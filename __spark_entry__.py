"""Driver contract: flagship entry, per-operator queries, and DuckDB oracles.

Every SURVEY.md §2 operator family has a ``queries()`` entry running the
pypond_spark engine on the driver's parquet tables, and (where ANSI-SQL can
express it) an ``oracle_sql()`` twin for DuckDB. Column names/aliases match
pairwise; timestamps are exposed as epoch-ms BIGINTs; order-sensitive floats
are rounded identically on both sides.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pypond_spark import TimeSeries
from pypond_spark.datapipe import corpus as dp_corpus
from pypond_spark.datapipe import decontam as dp_decon
from pypond_spark.datapipe import dedup as dp_dedup
from pypond_spark.datapipe import multimodal as dp_mm
from pypond_spark.datapipe import privacy as dp_priv
from pypond_spark.datapipe import sampling as dp_sample
from pypond_spark.datapipe import similarity as dp_sim
from pypond_spark.datapipe import textstats as dp_text
from pypond_spark.datapipe import chat as dp_chat
from pypond_spark.datapipe import feeds as dp_feeds
from pypond_spark.datapipe import code as dp_code
from pypond_spark.datapipe import notebook as dp_nb
from pypond_spark.datapipe import urls as dp_urls
from pypond_spark.datapipe import y4m as dp_y4m
from pypond_spark.datapipe import sketch as dp_sketch
from pypond_spark.datapipe import subtitles as dp_subs
from pypond_spark.datapipe import tables as dp_tables
from pypond_spark.datapipe import tokenize as dp_tok
# _spread stays UNCONDITIONAL for synthesis sites: most synth frames
# feed per-rep heavy Python encoders (png/gif/tiff LZW+zlib, pdf
# streams, tar gzip) that run AT THE SYNTH FRAME'S PARTITIONING, so
# gating the synth spread serializes the encode (measured: phash_png
# 1.0 -> 1.8 s, phash_tiff 1.0 -> 2.6 s).  _spread_io (byte-cost
# gate, r15) is used only where the WHOLE downstream chain is
# O(bytes)-light — see _synth_meta_mix.
from pypond_spark.datapipe._util import spread as _spread
from pypond_spark.datapipe._util import spread_io as _spread_io
from pypond_spark.operators import merge as merge_ops
from pypond_spark.operators.take import take as take_op
from pypond_spark.streaming import run_available_now

SF_DEFAULT = "/root/testdata/sf0.001"


def _ensure_confs(spark: SparkSession) -> None:
    """Defensive runtime confs — the driver owns the SparkSession and may not
    carry our session defaults:

    - ``nanosAsLong``: events.parquet is TIMESTAMP(NANOS), which Spark 4
      rejects outright without it (runtime-settable, verified);
    - ``inferTimestampNTZ`` off: naive-micros parquet (isAdjustedToUTC=false)
      must read as plain TIMESTAMP holding the stored micros-since-epoch —
      the same instant DuckDB sees — not as TIMESTAMP_NTZ, which breaks
      ``unix_millis`` and every epoch-ms projection;
    - session timezone UTC: calendar bucketing (date_trunc/date_format) on
      TZ-aware timestamps must agree with DuckDB's naive-UTC reading.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # bounded distributed file listing (see session.py): without it every
    # stream-ingest micro-batch over a 5000-file shard dir pays a
    # 5000-task listing job (~10s/drain measured at sf0.1)
    spark.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.parallelism",
        os.environ.get("SPARK_GRAFT_LISTING_PARALLELISM", "64"))
    # Spark 4.1's per-checkpoint-file checksum twin doubles the blocking
    # file ops of every state-store commit (measured: stream-stream join
    # drains 2x slower) and only detects file corruption — results are
    # identical without it (see session.py; same env override)
    spark.conf.set(
        "spark.sql.streaming.checkpoint.fileChecksum.enabled",
        os.environ.get("SPARK_GRAFT_CHECKPOINT_CHECKSUM", "false"))
    _ship_package(spark)


def _ship_package(spark: SparkSession) -> None:
    """Ship pypond_spark to python workers (pandas-UDF closures resolve by
    module reference; the driver's sys.path does not reach executors)."""
    if getattr(spark, "_pypond_spark_shipped", False):
        return
    import hashlib
    import os
    import tempfile
    import zipfile
    pkg_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "pypond_spark")
    sources = sorted(
        os.path.join(root, fname)
        for root, _, files in os.walk(pkg_dir)
        for fname in files if fname.endswith(".py"))
    # Content-keyed path + atomic rename: two drivers on one host never ship
    # a half-written or stale zip (different code -> different path; same
    # code -> byte-identical zips, os.replace is atomic), and reruns reuse
    # the file instead of leaking one per process.
    digest = hashlib.md5()
    for full in sources:
        digest.update(os.path.relpath(full, pkg_dir).encode())
        with open(full, "rb") as fh:
            digest.update(fh.read())
    zpath = os.path.join(tempfile.gettempdir(),
                         f"pypond_spark_pkg_{digest.hexdigest()[:12]}.zip")
    if not os.path.exists(zpath):
        fd, tmp = tempfile.mkstemp(suffix=".zip", dir=tempfile.gettempdir())
        os.close(fd)
        try:
            with zipfile.ZipFile(tmp, "w") as zf:
                for full in sources:
                    zf.write(full,
                             os.path.relpath(full, os.path.dirname(pkg_dir)))
            os.replace(tmp, zpath)
        except BaseException:
            os.unlink(tmp)
            raise
    spark.sparkContext.addPyFile(zpath)
    spark._pypond_spark_shipped = True


def _events_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with ts normalized to TimestampType.

    The driver's events.parquet uses TIMESTAMP(NANOS); with
    ``nanosAsLong`` it reads as BIGINT nanos — convert via integer division
    (micros) to match DuckDB's own nanos->micros truncation.
    """
    from pyspark.sql import types as T
    _ensure_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        # Defense in depth if inferTimestampNTZ couldn't be disabled: session
        # tz is pinned UTC above, so a plain cast keeps the stored instant.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _events_ts(spark: SparkSession, sf_dir: str) -> TimeSeries:
    df = _events_df(spark, sf_dir).withColumnRenamed("ts", "time")
    return TimeSeries(df, "time", {"name": "events"})


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_confs(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cached_media(spark: SparkSession, sf_dir: str, name: str,
                  version: int, build) -> DataFrame:
    """Parquet cache for deterministic synthesized media frames (the
    r12 verdict's bench-hygiene item: ~66s of the sf0.1 bench was
    re-ENCODING fixture bytes inside the heavy codec queries every
    run, masking decode-path drift).

    Key = (query recipe name, recipe VERSION, sf dir basename, size+
    mtime of documents.parquet) — the recipe version MUST be bumped
    whenever the synthesis changes (e.g. jpeg_lossless is v2 after
    the r13 T.81 H.1.1 restart fix), and the testdata fingerprint
    auto-invalidates when the driver regenerates parquet.  Staleness
    is LOUD, never silent: the cached bytes are encoder OUTPUT, the
    query still decodes them for real every run, and the DuckDB
    oracle replays expectations from the live documents table — a
    stale fixture hash-mismatches instead of passing.

    Concurrent runs race-safely: each builder writes to a unique
    temp dir and renames into place; the loser discards its copy.
    """
    import shutil
    import tempfile
    import uuid

    root = os.environ.get("PYPOND_FIXTURE_DIR") or os.path.join(
        tempfile.gettempdir(), "pypond_fixtures")
    try:
        st = os.stat(os.path.join(sf_dir, "documents.parquet"))
        # nanosecond mtime: same-second regeneration at equal size
        # must not serve a stale fixture (r13 ADVICE)
        fp = f"{st.st_size}_{st.st_mtime_ns}"
    except OSError:
        fp = "nostat"
    key = (f"{name}_v{version}_"
           f"{os.path.basename(os.path.normpath(sf_dir))}_{fp}")
    path = os.path.join(root, key)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        os.makedirs(root, exist_ok=True)
        tmp = os.path.join(root, f".{key}.{uuid.uuid4().hex}")
        build().write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # concurrent winner
    return spark.read.parquet(path)


def _ms(col: str = "time"):
    return F.unix_millis(F.col(col))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: hourly windowed rollup per event_type on sf0.001 events."""
    return q_rollup_1h_by_type(spark, SF_DEFAULT)


# ---------------------------------------------------------------------------
# timeseries core (SURVEY §2.4/2.5/2.6): windowed + grouped aggregation
# ---------------------------------------------------------------------------


def q_rollup_1h_by_type(spark, sf_dir):
    ts = _events_ts(spark, sf_dir)
    out = ts.fixed_window_rollup(
        "1h",
        {"value_avg": {"value": "avg"}, "value_sum": {"value": "sum"},
         "n": {"value": "count"}},
        group_by="event_type")
    return out.df.select(
        "index", "event_type",
        F.round("value_avg", 6).alias("value_avg"),
        F.round("value_sum", 6).alias("value_sum"), "n")


def q_rollup_daily(spark, sf_dir):
    ts = _events_ts(spark, sf_dir)
    out = ts.daily_rollup(
        {"value_avg": {"value": "avg"}, "n": {"value": "count"}})
    return out.df.select("index", F.round("value_avg", 6).alias("value_avg"),
                         "n")


def _events_stream(spark, sf_dir):
    """Streaming source over the events parquet with ts normalized —
    the streaming twin of :func:`_events_ts`'s input. FileStreamSource
    wants a directory; the testdata table is one file — expose it through
    a temp dir of symlinks."""
    from pyspark.sql import types as T
    _ensure_confs(spark)
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    import os
    import tempfile
    link_dir = os.path.join(tempfile.gettempdir(),
                            f"pypond_stream_{abs(hash(sf_dir))}")
    os.makedirs(link_dir, exist_ok=True)
    link = os.path.join(link_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"), link)
    sdf = spark.readStream.schema(batch.schema).parquet(link_dir)
    if isinstance(batch.schema["ts"].dataType, T.LongType):
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(batch.schema["ts"].dataType, T.TimestampNTZType):
        sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    return sdf.withColumnRenamed("ts", "time")


def _docs_stream(spark, sf_dir):
    """Streaming source over the documents parquet (same symlink-dir
    recipe as :func:`_events_stream`)."""
    _ensure_confs(spark)
    import os
    import tempfile
    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")
    link_dir = os.path.join(tempfile.gettempdir(),
                            f"pypond_docstream_{abs(hash(sf_dir))}")
    os.makedirs(link_dir, exist_ok=True)
    link = os.path.join(link_dir, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.abspath(f"{sf_dir}/documents.parquet"), link)
    return spark.readStream.schema(batch.schema).parquet(link_dir)


def q_stream_cms_sketch(spark, sf_dir):
    """Streaming count-min sketch (datapipe/sketch.py over a documents
    readStream, complete mode): the sketch IS the canonical streaming
    summary — its groupBy state is the fixed depth×width grid however
    long the stream runs, and the drained grid must equal the batch
    sketch counter-for-counter (the batch-SQL oracle)."""
    sdf = _docs_stream(spark, sf_dir)
    out = dp_sketch.cms_token_counts(sdf, width=8, depth=3)
    return run_available_now(out, "complete")


def q_stream_rollup_1h(spark, sf_dir):
    """Structured Streaming rollup (SURVEY §2.9): readStream over the events
    parquet -> tumbling 1h window agg per event_type -> memory sink drained
    with availableNow (the reference's stop()-flushes protocol,
    io/input.py:94-97). The streaming plan must reproduce the batch table —
    the DuckDB oracle is the same SQL as the batch rollup's."""
    from pypond_spark.streaming import windowed_stream_aggregate
    sdf = _events_stream(spark, sf_dir)
    out, mode = windowed_stream_aggregate(
        sdf, {"v_sum": {"value": "sum"}, "n": {"value": "count"}},
        "1h", group_by="event_type", emit_on="flush")
    result = run_available_now(out, mode)
    return result.select(
        F.unix_millis("begin").alias("begin_ms"), "event_type",
        F.round("v_sum", 6).alias("v_sum"), "n")


def q_global_stats_by_type(spark, sf_dir):
    ts = _events_ts(spark, sf_dir)
    out = ts.window_aggregate(
        {"v_min": {"value": "min"}, "v_max": {"value": "max"},
         "v_med": {"value": "median"},
         "v_p95": {"value": ("percentile", 95)},
         "v_std": {"value": "stddev"},
         "v_diff": {"value": "difference"},
         "n": {"value": "count"}},
        group_by="event_type")
    return out.df.select(
        "event_type", "v_min", "v_max",
        F.round("v_med", 6).alias("v_med"), F.round("v_p95", 6).alias("v_p95"),
        F.round("v_std", 6).alias("v_std"),
        F.round("v_diff", 6).alias("v_diff"), "n")


def q_quantile_by_type(spark, sf_dir):
    ts = _events_ts(spark, sf_dir)
    out = ts.window_aggregate(
        {"p25": {"value": ("percentile", 25)},
         "p50": {"value": ("percentile", 50)},
         "p75": {"value": ("percentile", 75)}},
        group_by="event_type")
    return out.df.select("event_type",
                         F.round("p25", 6).alias("p25"),
                         F.round("p50", 6).alias("p50"),
                         F.round("p75", 6).alias("p75"))


def q_percentile_methods(spark, sf_dir):
    ts = _events_ts(spark, sf_dir)
    out = ts.window_aggregate(
        {"p95_lower": {"value": ("percentile", 95, "lower")},
         "p95_higher": {"value": ("percentile", 95, "higher")},
         "p95_nearest": {"value": ("percentile", 95, "nearest")},
         "p95_midpoint": {"value": ("percentile", 95, "midpoint")}},
        group_by="event_type")
    return out.df.select(
        "event_type",
        F.round("p95_lower", 6).alias("p95_lower"),
        F.round("p95_higher", 6).alias("p95_higher"),
        F.round("p95_nearest", 6).alias("p95_nearest"),
        F.round("p95_midpoint", 6).alias("p95_midpoint"))


def q_first_last_by_type(spark, sf_dir):
    ts = _events_ts(spark, sf_dir)
    out = ts.window_aggregate(
        {"v_first": {"value": "first"}, "v_last": {"value": "last"}},
        group_by="event_type")
    return out.df.select("event_type", "v_first", "v_last")


# ---------------------------------------------------------------------------
# §2.8: rate / align / fill
# ---------------------------------------------------------------------------


def q_rate_per_user(spark, sf_dir):
    ts = _events_ts(spark, sf_dir)
    out = ts.rate(field_spec="value", partition_by=["user_id"])
    return out.df.select(
        "user_id", _ms("begin").alias("begin_ms"), _ms("end").alias("end_ms"),
        # + 0.0 canonicalizes any IEEE -0.0 to +0.0 (matches the oracle twin)
        (F.round("value_rate", 6) + F.lit(0.0)).alias("value_rate"))


def q_rate_no_negative(spark, sf_dir):
    ts = _events_ts(spark, sf_dir)
    out = ts.rate(field_spec="value", allow_negative=False,
                  partition_by=["user_id"])
    return out.df.select(
        "user_id", _ms("begin").alias("begin_ms"),
        (F.round("value_rate", 6) + F.lit(0.0)).alias("value_rate"))


def q_align_10m_linear(spark, sf_dir):
    ts = _events_ts(spark, sf_dir)
    out = ts.align(field_spec="value", window="10m", method="linear",
                   partition_by=["user_id"])
    return out.df.select("user_id", _ms("time").alias("t_ms"),
                         F.round("value", 6).alias("value"))


def q_align_1h_hold(spark, sf_dir):
    ts = _events_ts(spark, sf_dir)
    out = ts.align(field_spec="value", window="1h", method="hold",
                   partition_by=["user_id"])
    return out.df.select("user_id", _ms("time").alias("t_ms"),
                         F.round("value", 6).alias("value"))


def _nullified(spark, sf_dir):
    """events with value nulled for clicks — synthetic invalid values."""
    df = _events_df(spark, sf_dir)
    return df.withColumn(
        "value", F.when(F.col("event_type") == "click", F.lit(None))
        .otherwise(F.col("value"))).withColumnRenamed("ts", "time")


def q_fill_pad_per_user(spark, sf_dir):
    ts = TimeSeries(_nullified(spark, sf_dir), "time", {"name": "nulled"})
    out = ts.fill(field_spec="value", method="pad", partition_by=["user_id"])
    return out.df.select("event_id", "user_id",
                         F.round("value", 6).alias("value_filled"))


def q_fill_zero_limit(spark, sf_dir):
    ts = TimeSeries(_nullified(spark, sf_dir), "time", {"name": "nulled"})
    out = ts.fill(field_spec="value", method="zero", fill_limit=2,
                  partition_by=["user_id"])
    return out.df.select("event_id", "user_id",
                         F.round("value", 6).alias("value_filled"))


def q_fill_linear_per_user(spark, sf_dir):
    ts = TimeSeries(_nullified(spark, sf_dir), "time", {"name": "nulled"})
    out = ts.fill(field_spec="value", method="linear",
                  partition_by=["user_id"])
    return out.df.select("event_id", "user_id",
                         F.round("value", 6).alias("value_filled"))


def q_asof_signup_purchase(spark, sf_dir):
    from pypond_spark.operators.asof import asof_join
    ev = _events_df(spark, sf_dir).withColumnRenamed("ts", "time")
    left = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "time", "event_id", F.col("value").alias("purchase_v"))
    right = ev.where(F.col("event_type") == "signup").select(
        "user_id", "time", F.col("value").alias("signup_v"))
    out = asof_join(left, right, on="user_id")
    return out.select("event_id", "user_id",
                      F.round("purchase_v", 6).alias("purchase_v"),
                      F.round("signup_v", 6).alias("signup_v"))


def q_sliding_2h_count(spark, sf_dir):
    ts = _events_ts(spark, sf_dir)
    out = ts.sliding_window_rollup(
        "2h", "1h", {"n": {"value": "count"}, "v_sum": {"value": "sum"}})
    return out.df.select(_ms("begin").alias("begin_ms"),
                         _ms("end").alias("end_ms"), "n",
                         F.round("v_sum", 6).alias("v_sum"))


def q_session_1h_by_user(spark, sf_dir):
    ts = _events_ts(spark, sf_dir)
    out = ts.session_window_rollup("1h", {"n": {"value": "count"}},
                                   group_by="user_id")
    return out.df.select("user_id", _ms("begin").alias("begin_ms"),
                         _ms("end").alias("end_ms"), "n")


# ---------------------------------------------------------------------------
# §2.2/2.3/2.7: row ops, merges, take/slice
# ---------------------------------------------------------------------------


def q_select_clean_crop(spark, sf_dir):
    from pypond_spark import TimeRange
    ts = _events_ts(spark, sf_dir)
    out = (ts.crop(TimeRange(1704412800000, 1704844800000))  # Jan 5 - Jan 10
           .clean("value").select(["value", "event_type"])
           .filter(F.col("value") > 50))
    return out.df.select(_ms("time").alias("t_ms"), "value", "event_type")


def q_collapse_lineitem(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem").withColumnRenamed("l_shipdate", "time")
    ts = TimeSeries(li, "time", {"name": "lineitem"})
    out = ts.collapse(["l_quantity", "l_discount", "l_tax"], "qdt_sum", "sum")
    return out.df.select("l_orderkey", "l_linenumber",
                         F.round("qdt_sum", 6).alias("qdt_sum"))


def q_offset_rename(spark, sf_dir):
    ts = _events_ts(spark, sf_dir)
    out = ts.offset_by(100.0, "value").rename_columns({"value": "value_off"})
    return out.df.select("event_id",
                         F.round("value_off", 6).alias("value_off"))


def q_dedup_last_per_hour(spark, sf_dir):
    df = (_events_df(spark, sf_dir)
          .withColumn("time", F.date_trunc("hour", F.col("ts"))))
    out = merge_ops.dedup(df.select("time", "user_id", "event_id", "value"),
                          kind="time", order_col="event_id")
    # dedup key is the event key (time); user_id rides along
    return out.select(_ms("time").alias("hour_ms"), "event_id", "value")


def q_merge_series(spark, sf_dir):
    df = _events_df(spark, sf_dir).withColumnRenamed("ts", "time")
    clicks = df.where(F.col("event_type") == "click") \
        .select("time", F.col("value").alias("click_v"))
    views = df.where(F.col("event_type") == "view") \
        .select("time", F.col("value").alias("view_v"))
    merged = merge_ops.timeseries_list_merge([clicks, views], kind="time")
    return merged.select(_ms("time").alias("t_ms"), "click_v", "view_v")


def q_combine_sum_hourly(spark, sf_dir):
    df = _events_df(spark, sf_dir)
    hourly = df.withColumn("time", F.date_trunc("hour", F.col("ts")))
    clicks = hourly.where(F.col("event_type") == "click").select("time", "value")
    views = hourly.where(F.col("event_type") == "view").select("time", "value")
    out = merge_ops.timeseries_list_sum([clicks, views], field_spec="value",
                                        kind="time")
    return out.select(_ms("time").alias("hour_ms"),
                      F.round("value", 6).alias("value_sum"))


def q_take2_per_day_type(spark, sf_dir):
    df = _events_df(spark, sf_dir).withColumnRenamed("ts", "time")
    out = take_op(df, 2, window="daily", group_by="event_type")
    return out.select("event_id", "event_type", _ms("time").alias("t_ms"))


def q_slice_positional(spark, sf_dir):
    ts = _events_ts(spark, sf_dir)
    out = ts.slice(100, 110)
    return out.df.select("event_id", _ms("time").alias("t_ms"))


# ---------------------------------------------------------------------------
# TPC-H-ish relational rollups (bench anchors)
# ---------------------------------------------------------------------------


def q_tpch_q1(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
             F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
             F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                     2).alias("sum_disc_price"),
             F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
             F.round(F.avg("l_discount"), 6).alias("avg_disc"),
             F.count("*").alias("count_order"))
    )


def q_orders_daily(spark, sf_dir):
    ts = TimeSeries.from_parquet(spark, f"{sf_dir}/orders.parquet",
                                 time_col="o_orderdate", name="orders")
    out = ts.daily_rollup({"total": {"o_totalprice": "sum"},
                           "n": {"o_totalprice": "count"}})
    return out.df.select("index", F.round("total", 2).alias("total"), "n")


# ---------------------------------------------------------------------------
# datapipe: dedup / similarity / text (documents, embeddings)
# ---------------------------------------------------------------------------


def q_dedup_exact_docs(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return dp_dedup.exact_duplicates(docs)


def q_minhash_signature(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return dp_dedup.minhash_signature(docs, num_hashes=4)


def q_neardup_pairs_lsh(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return dp_dedup.lsh_candidate_pairs(docs, num_hashes=8, band_size=4)


def q_lsh_capped_pairs(spark, sf_dir):
    """LSH candidate pairs under the adversarial-skew bucket cap
    (dedup.py::lsh_candidate_pairs max_bucket=4): each band bucket
    emits the clique over a deterministic 4-member sample (ordered by
    md5(band:id) so bands sample different members) plus a star edge
    from every overflow member to the bucket representative — per-
    bucket cost max_bucket² + |bucket| instead of |bucket|², with every
    member keeping an edge.  The oracle replays the ranking, clique,
    and star exactly."""
    docs = _read(spark, sf_dir, "documents")
    return dp_dedup.lsh_candidate_pairs(docs, num_hashes=8, band_size=4,
                                        max_bucket=4)


def q_dedup_documents(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    out = dp_dedup.dedup_documents(docs, jaccard_threshold=0.8)
    return out.select("doc_id", "cluster_id", "is_keeper")


def q_dedup_against_neardup(spark, sf_dir):
    """Incremental near-dup dedup against a PERSISTED band-key index
    (datapipe/dedup.py::write_neardup_index / dedup_against_neardup):
    even-id docs play the already-ingested corpus (band table written
    partitioned by band prefix), odd-id docs the incoming batch. The
    batch's band prefixes become a partition filter on the index scan
    (PartitionFilters — pinned by unit test), so the corpus side is
    never recomputed OR rescanned in full. keep_scores=True returns
    the verified hits; the oracle replays the band join over the
    union with the shared MinHash/shingle replay blocks."""
    import shutil
    import tempfile
    docs = _read(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    # per-run unique dir: a shared sf_dir-keyed path races when two
    # driver/bench runs overwrite + read the same index concurrently
    path = tempfile.mkdtemp(prefix="pypond_neardup_idx_")
    try:
        # layout="auto": flat few-file index below ~256 MB of corpus,
        # the 256-dir partitioned layout above (measured: the
        # partitioned write of a 66 KB band table cost 5-10 s in
        # 256-file creation alone at bench scale)
        dp_dedup.write_neardup_index(corpus, path, layout="auto")
        hits = dp_dedup.dedup_against_neardup(
            new, path, threshold=0.8, keep_scores=True).localCheckpoint()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return hits.select(F.col("doc_id_new"), F.col("doc_id_ref"),
                       F.round("jaccard", 6).alias("jaccard"))


def q_dedup_docs_longest(spark, sf_dir):
    """dedup_documents with the 'longest' keeper policy (datapipe/dedup.py):
    same LSH -> Jaccard -> components chain as `dedup_documents`, but each
    cluster keeps its longest member (tie -> min id) — the choice real
    pipelines make (the most complete variant survives).  Keeper selection
    is an argmax aggregate over cluster MEMBERS only (dup-set-sized, not
    corpus) + one join back on cluster_id; the oracle replays the chain
    and picks keepers with a row_number window."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_dedup.dedup_documents(docs, jaccard_threshold=0.8,
                                   keeper="longest")
    return out.select("doc_id", "cluster_id", "is_keeper")


def q_char_entropy(spark, sf_dir):
    """Per-doc Shannon char entropy (datapipe/textstats.py::char_entropy):
    the cheap degeneracy/quality signal; H = log2(T) - sum(n log2 n)/T in
    ONE per-doc aggregate after the char explode, rounded 6dp both
    engines (order-dependent float sum over <=~100 distinct chars)."""
    docs = _read(spark, sf_dir, "documents")
    return dp_text.char_entropy(docs)


def q_rrf_quality(spark, sf_dir):
    """Reciprocal-rank fusion of two scale-incompatible quality signals
    (datapipe/sampling.py::rrf_fusion; Cormack et al. 2009 k=60): doc
    length and char entropy fused through COMPETITION ranks computed as
    a distinct-value cumsum — no corpus-wide window, ties need no
    tiebreak (min rank shared), so the fused score is deterministic and
    the oracle's rank() reproduces it exactly.  Entropy is pre-rounded
    6dp by char_entropy on both engines, so rank ties agree."""
    docs = _read(spark, sf_dir, "documents")
    ent = dp_text.char_entropy(docs)
    scored = docs.select("doc_id", "n_chars").join(ent, "doc_id")
    out = dp_sample.rrf_fusion(scored, ["n_chars", "char_entropy"], k=60)
    return out.select("doc_id",
                      F.col("__rank_n_chars").alias("rank_len"),
                      F.col("__rank_char_entropy").alias("rank_ent"),
                      F.round("rrf", 6).alias("rrf"))


def q_simhash_docs(spark, sf_dir):
    """md5-derived token hashes (reproducible in DuckDB); the simhash is
    emitted as unsigned 32-bit halves so neither engine deals in the sign
    bit of a 64-bit value."""
    docs = _read(spark, sf_dir, "documents")
    return dp_dedup.simhash64(docs, as_halves=True)


def q_text_quality(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    out = dp_text.quality_stats(docs)
    return out.select("doc_id", "n_chars", "n_words", "n_tokens",
                      F.round("avg_word_len", 6).alias("avg_word_len"),
                      F.round("punct_ratio", 6).alias("punct_ratio"),
                      F.round("stopword_ratio", 6).alias("stopword_ratio"))


def q_lang_id(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return dp_text.language_id(docs)


def q_fingerprint_docs(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return dp_text.fingerprint(docs)


def q_gopher_quality(spark, sf_dir):
    """Gopher §A1.1 quality rules at published defaults; the synthetic
    corpus (10-99 words/doc, ~1.7 'the'/doc) splits ~50/50 on the
    min-words and min-stopword-hits rules, so gopher_pass is non-vacuous."""
    docs = _read(spark, sf_dir, "documents")
    return dp_text.gopher_quality(docs)


def q_c4_stats(spark, sf_dir):
    """C4 cleaning signals. min_line_words is calibrated to the corpus
    (single-line docs, median 56 words/line) so short_line_frac varies;
    the sentence/blocklist columns are constant here by corpus construction
    but still verify the expression pipeline cross-engine."""
    docs = _read(spark, sf_dir, "documents")
    return dp_text.c4_stats(docs, min_line_words=57)


def q_corpus_filter(spark, sf_dir):
    """End-to-end corpus filter: Gopher rules + repetition signals + exact
    dedup in one pass, with an auditable cull_reason per document. The
    synthetic corpus has no exact duplicates, so docs 0-24 are re-unioned
    under shifted ids to exercise the duplicate stage; repetition
    thresholds are the corpus-calibrated ones (see q_repetition_docs)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    clones = (docs.where(F.col("doc_id") < 25)
              .withColumn("doc_id", F.col("doc_id") + 1_000_000))
    return dp_corpus.filter_corpus(
        docs.unionAll(clones),
        repetition={"max_dup_frac": {2: 0.03, 3: 0.0},
                    "max_top_frac": {2: 0.035, 3: 0.02}})


def q_decontam_docs(spark, sf_dir):
    """Decontamination demo: docs 0-24 stand in for the benchmark suite;
    every other document is scored against their 3-gram set (n=3 and
    min_hits=3 are corpus-calibrated: the 31-word synthetic vocabulary
    makes 3-gram collisions common enough that 214/475 docs trip the
    threshold, so both output columns vary; real corpora use n=8..13)."""
    docs = _read(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") < 25)
    grams = dp_decon.benchmark_grams(bench, n=3)
    return dp_decon.decontaminate(docs.where(F.col("doc_id") >= 25),
                                  grams, n=3, min_hits=3)


def q_longest_match_decontam(spark, sf_dir):
    """Longest shared token run per (doc, benchmark item)
    (decontam.py::longest_match): positional 3-gram seeds on a
    broadcast benchmark side, chained along alignment diagonals with
    gaps-and-islands — a chain of c consecutive diagonal hits IS a
    shared run of c+2 tokens, so the audit is exact for every run
    >= k.  The oracle replays seeds, islands, and the (len DESC,
    positions ASC) argmax."""
    docs = _read(spark, sf_dir, "documents")
    bench = (docs.where(F.col("doc_id") < 25)
             .select(F.col("doc_id").alias("item_id"), "text"))
    return dp_decon.longest_match(docs.where(F.col("doc_id") >= 25),
                                  bench, k=3)


def q_decontam_normalized(spark, sf_dir):
    """Case/punctuation-insensitive decontamination (decontam.py
    normalize=True, the GPT-3 appendix-C convention): the benchmark side
    is an adversarially perturbed copy of docs 0-24 (uppercased, commas
    injected between words, '!!!' appended) — raw gram matching would
    find nothing, but normalize_text on BOTH sides recovers exactly the
    same contamination verdicts as the unperturbed run."""
    docs = _read(spark, sf_dir, "documents")
    bench = (docs.where(F.col("doc_id") < 25)
             .withColumn("text",
                         F.concat(F.upper(F.regexp_replace(
                             F.col("text"), " ", " , ")), F.lit(" !!!"))))
    grams = dp_decon.benchmark_grams(bench, n=3, normalize=True)
    return dp_decon.decontaminate(docs.where(F.col("doc_id") >= 25),
                                  grams, n=3, min_hits=3, normalize=True)


def q_pack_bins(spark, sf_dir):
    """First-fit-decreasing bin packing (sampling.py::pack_bins_ffd,
    max_tokens=60 so the corpus exercises multi-doc bins AND overflow
    singletons): per-shard FFD is a sequential fold over one Arrow batch
    per shard; the oracle replays the identical fold as a recursive CTE
    carrying the bin-load list, with list_position finding the first fit
    — bit-for-bit the same packing because both sides sort by
    (tokens DESC, id) and scan bins in creation order."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_sample.pack_bins_ffd(docs, max_tokens=60, n_shards=8)
    return out.select("doc_id", "n_tokens", "shard", "bin", "overflow")


def q_pack_bins_report(spark, sf_dir):
    """Padding-waste report over the pack_bins packing
    (sampling.py::packing_report): fill fraction of non-overflow
    capacity, overflow-bin count, load extremes — all derived from exact
    integer sums so the single final divisions are IEEE-identical; the
    oracle reuses the recursive FFD replay and aggregates the same way."""
    docs = _read(spark, sf_dir, "documents")
    packed = dp_sample.pack_bins_ffd(docs, max_tokens=60, n_shards=8)
    return dp_sample.packing_report(packed, max_tokens=60)


def q_nb_quality(spark, sf_dir):
    """Hashed-n-gram Naive-Bayes quality classifier
    (textstats.py::nb_quality_classifier, the closed-form counterpart of
    the GPT-3 / CCNet fastText quality rankers): train on the documents
    table with source='src0' as the positive class, score the whole
    corpus.  Exact-integer micro-nat accumulation makes per-doc log-odds
    order-independent; the oracle replays the same Laplace-smoothed
    counts and integer sums in SQL."""
    docs = _read(spark, sf_dir, "documents")
    return dp_text.nb_quality_classifier(
        docs, docs, F.col("source") == "src0", n_buckets=4096)


def q_repetition_docs(spark, sf_dir):
    """Gopher repetition signals with thresholds calibrated to the corpus
    medians (dup2 0.028, top2 0.033, top3 0.021) so repetition_pass splits
    rather than being all-true at the published large-doc defaults."""
    docs = _read(spark, sf_dir, "documents")
    return dp_text.repetition_stats(
        docs, ns=(2, 3),
        max_dup_frac={2: 0.03, 3: 0.0},
        max_top_frac={2: 0.035, 3: 0.02})


def q_ann_topk(spark, sf_dir):
    embs = _read(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in
            embs.where(F.col("vec_id") == 0).collect()[0]["embedding"]]
    sim = dp_sim.dot("embedding", F.array(*[F.lit(v) for v in qvec])) / (
        dp_sim.norm("embedding") *
        F.lit(sum(v * v for v in qvec) ** 0.5))
    return (embs.select("vec_id", F.round(sim, 6).alias("cosine"))
            .orderBy(F.desc("cosine"), "vec_id").limit(10))


def q_ann_lsh(spark, sf_dir):
    """Oracle-checked approx op: the LSH hyperplanes are deterministic
    (seeded LCG), so the oracle inlines the same plane values as SQL
    literals and reproduces bucket assignment + in-bucket top-k exactly."""
    embs = _read(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in
            embs.where(F.col("vec_id") == 1).collect()[0]["embedding"]]
    out = dp_sim.lsh_topk(embs, qvec, k=10, nbits=4)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


def q_ann_ivf(spark, sf_dir):
    """Oracle-checked approx op: quantize=6 pins each Lloyd round's centroid
    means to 6 decimals so the SQL twin (same seeds, same rounds, same
    rounding) derives bit-identical centroids, probes, and top-k."""
    embs = _read(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in
            embs.where(F.col("vec_id") == 1).collect()[0]["embedding"]]
    cents = _ivf_cents(spark, sf_dir, embs)
    out = dp_sim.ivf_topk(embs, qvec, cents, k=10, nprobe=2)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


def q_cluster_sample(spark, sf_dir):
    """Cluster-balanced sampling (datapipe/similarity.py::
    cluster_balanced_sample — the coreset quota step beside SemDeDup,
    arXiv:2303.09540): exactly 40 per k-means cell by deterministic
    sample hash; centroids from the shared memoized ivf_build the
    ann_ivf oracle replays, so every cell assignment AND the in-cell
    hash order is hash-verified."""
    embs = _read(spark, sf_dir, "embeddings")
    cents = _ivf_cents(spark, sf_dir, embs)
    return dp_sim.cluster_balanced_sample(embs, k_per_cell=40,
                                          centroids=cents, quantize=6)


def q_cms_audit(spark, sf_dir):
    """Count-min sketch estimate-vs-truth audit (datapipe/sketch.py,
    Cormode & Muthukrishnan 2005): width 8 forces collisions on the
    ~30-token vocabulary so overestimates are real and the one-sided
    est >= exact guarantee is exercised; md5 row hashes make every
    counter SQL-reproducible."""
    docs = _read(spark, sf_dir, "documents")
    return dp_sketch.cms_audit(docs, width=8, depth=3)


def q_bloom_membership(spark, sf_dir):
    """Bloom-filter membership audit (datapipe/sketch.py, Bloom 1970):
    even-doc_id documents build a 256-bit / 3-hash filter over their
    text-prefix digests; odd-doc_id documents probe it.  Output pairs
    the sketch verdict (``maybe_seen``) with exact truth
    (``actually_seen``) so the one-sided guarantee is exercised: every
    actually-seen digest MUST probe maybe_seen, while the tiny filter
    forces real false positives.  The filter is m_bits/32 = 8 rows —
    broadcast, map-side probing; the incremental-dedup prefilter shape
    for 100 TB."""
    docs = _read(spark, sf_dir, "documents")
    keyed = docs.select("doc_id",
                        F.md5(F.substring("text", 1, 40)).alias("digest"))
    seen = keyed.filter(F.col("doc_id") % 2 == 0)
    batch = keyed.filter(F.col("doc_id") % 2 == 1)
    bloom = dp_sketch.bloom_build(seen, m_bits=256, k=3)
    verdict = dp_sketch.bloom_check(bloom, batch, m_bits=256, k=3)
    truth = seen.select("digest").distinct() \
        .withColumn("actually_seen", F.lit(True))
    return (verdict.join(batch, "doc_id")
            .join(F.broadcast(truth), "digest", "left")
            .select("doc_id", "maybe_seen",
                    F.coalesce("actually_seen", F.lit(False))
                    .alias("actually_seen")))


_DTW_TEMPLATE = [round(10 * __import__("math").sin(
    2 * __import__("math").pi * j / 24), 6) for j in range(24)]


def q_dtw_daily_template(spark, sf_dir):
    """Asymmetric DTW of each user's hourly series against a 24-point
    daily sinusoid (operators/correlate.py::dtw_to_template; Sakoe &
    Chiba 1978 asymmetric step pattern): the pattern-matching score
    with time stretching, computed as ONE scan-level aggregate fold in
    integer micro-units — the SQL twin replays the DP with a recursive
    CTE carrying the row as a LIST and hash-matches exactly."""
    from pypond_spark.operators.correlate import dtw_to_template
    ev = _events_df(spark, sf_dir)
    return dtw_to_template(ev, _DTW_TEMPLATE, field="value",
                           bucket="1h", partition_by=("user_id",),
                           time_col="ts")


def q_cusum_hourly_by_user(spark, sf_dir):
    """CUSUM changepoint alarms (Page 1954) over each user's hourly
    mean series (operators/changepoint.py::cusum_changepoints):
    self-referenced two-sided cumulative sums with restart, k=2 / h=40
    in value units.  The whole recurrence runs n-scaled in integers
    (r_i = n*m_i - sum(m) — exact, order-independent), so the SQL twin
    replays it with a recursive CTE and hash-matches exactly."""
    from pypond_spark.operators.changepoint import cusum_changepoints
    ev = _events_df(spark, sf_dir)
    return cusum_changepoints(ev, field="value", bucket="1h",
                              partition_by=("user_id",), k=2.0, h=40.0,
                              time_col="ts")


def q_stream_cusum(spark, sf_dir):
    """Streaming per-event CUSUM drift alarms (streaming/stream.py::
    stream_cusum): deviation from an explicit target level (50 — the
    corpus mean a production monitor would carry in from yesterday's
    batch), k=10 / h=200, state = TWO longs per user.  Integer
    micro-unit arithmetic makes the drained stream equal the per-event
    recursive-CTE replay bit-for-bit."""
    from pypond_spark.streaming import stream_cusum
    sdf = _events_stream(spark, sf_dir)
    out = stream_cusum(sdf, "value", target=50.0, k=10.0, h=200.0,
                       partition_by=["user_id"], tiebreak="event_id")
    return run_available_now(out, "append")



def q_stream_xchart(spark, sf_dir):
    """Streaming individuals (XmR) control chart per user
    (streaming/stream.py::stream_xchart): the four Western Electric
    zone rules on every event against target 50 / sigma 60, state =
    the last 8 micro-unit deviations per user (a fixed 8-long ring).
    Integer arithmetic end to end, so the drained alarms equal the
    batch window replay bit-for-bit."""
    from pypond_spark.streaming.stream import stream_xchart
    sdf = _events_stream(spark, sf_dir)
    out = stream_xchart(sdf, "value", target=50.0, sigma=60.0,
                        partition_by=["user_id"], tiebreak="event_id")
    return run_available_now(out, "append")


def q_rouge2_pairs(spark, sf_dir):
    """ROUGE-2 overlap scoring of LSH candidate pairs
    (datapipe/textstats.py::rouge_pairs; Lin 2004): clipped bigram
    multiset overlap -> recall/precision/F1 per pair — the standard
    summarization/contamination metric as a corpus-scale pair scorer.
    Integer counts until the final divisions, so the twin hash-matches;
    cost bounded by the banding, never corpus^2."""
    docs = _read(spark, sf_dir, "documents")
    return dp_text.rouge_pairs(docs, n=2, num_hashes=8, band_size=4)


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprint selection (textstats.py::
    winnow_fingerprints; Schleimer-Wilkerson-Aiken SIGMOD 2003, the
    MOSS algorithm): rightmost-min of each 4-window of 3-gram hashes
    via ONE integer-composite window min — any shared 6-token run
    between documents shares a selected fingerprint, at ~2/5 selection
    density.  Scan + one per-doc window exchange + distinct, linear in
    corpus tokens."""
    docs = _read(spark, sf_dir, "documents")
    return dp_text.winnow_fingerprints(docs, k=3, window=4)


def q_winnow_overlap(spark, sf_dir):
    """MOSS document comparison (textstats.py::winnow_overlap): pairs
    sharing >= 3 winnowed fingerprints with containment scores — the
    fingerprint table acts as the LSH index, pair cost
    Σ|fp-bucket|², never corpus².  25 pairs at sf0.01 (the planted
    near-dup set plus genuine template overlaps)."""
    docs = _read(spark, sf_dir, "documents")
    return dp_text.winnow_overlap(docs, k=3, window=4, min_shared=3)


def q_corpus_pipeline(spark, sf_dir):
    """The composed end-to-end preprocessing run
    (datapipe/corpus.py::preprocess_corpus): language gate -> Gopher
    quality -> exact dedup -> MinHash/LSH near-dedup -> benchmark
    decontamination, per-doc stage flags + final keep verdict.  One
    call takes raw documents to a training-corpus keep list — the
    flagship composition showing the operators ARE a pipeline, not a
    bag of parts.  Oracle composed from the five verified component
    oracles (each in its own WITH-subquery namespace)."""
    docs_all = _read(spark, sf_dir, "documents")
    bench = docs_all.where(F.col("doc_id") < 25)
    docs = docs_all.where(F.col("doc_id") >= 25)
    return dp_corpus.preprocess_corpus(docs, bench)


def q_ann_recall(spark, sf_dir):
    """ANN quality audit: recall@10 of IVF(nprobe=2) against the exact
    kNN answer for a query set (similarity.py::ivf_knn_join — probe
    selection IN-PLAN on a queries x cells cross of tiny frames, corpus
    broadcast-joined on the cell key, so the audit scales to thousands
    of queries).  This is the measurement loop any production ANN
    deployment runs to tune nprobe; sf recalls land at 0.7-1.0 so the
    number is informative, not saturated."""
    embs = _read(spark, sf_dir, "embeddings")
    qs = embs.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    cents = _ivf_cents(spark, sf_dir, embs)
    exact = dp_sim.knn_join(embs, qs, k=10, round_to=6)
    approx = dp_sim.ivf_knn_join(embs, qs, cents, k=10, nprobe=2,
                                 round_to=6)
    match = (exact.select("q_id", "vec_id")
             .join(F.broadcast(approx.select("q_id", "vec_id")),
                   ["q_id", "vec_id"])
             .groupBy("q_id").agg(F.count("*").alias("n_match")))
    return (qs.select("q_id").join(F.broadcast(match), "q_id", "left")
            .select("q_id",
                    F.coalesce("n_match", F.lit(0)).alias("n_match"),
                    F.round(F.coalesce("n_match", F.lit(0)) / F.lit(10),
                            6).alias("recall")))


def q_stream_hll(spark, sf_dir):
    """Streaming HyperLogLog (datapipe/sketch.py over a documents
    readStream, complete mode): cardinality tracking over an unbounded
    stream with EXACTLY m=64 rows of state store however many keys flow
    by — max-merge registers are the canonical streaming distinct
    sketch.  The drained register frame must equal the batch build
    register-for-register (batch-SQL oracle)."""
    sdf = _docs_stream(spark, sf_dir)
    keyed = sdf.select(F.md5("text").alias("digest"))
    out = dp_sketch.hll_registers(keyed, "digest", m=64)
    return run_available_now(out, "complete")


def q_stream_first_seen(spark, sf_dir):
    """Streaming first-occurrence dedup (streaming/stream.py::
    stream_first_seen): every doc plus a planted +10000-id clone flow
    through; exactly the min-id copy of each digest is emitted, clones
    suppressed by the per-key seen state.  Append mode — the sink IS
    the deduped corpus.  State is O(distinct digests) by design; the
    documented production pairing is a Bloom prefilter
    (sketch.bloom_build) so only maybe-seen keys reach the state
    store."""
    sdf = _docs_stream(spark, sf_dir)
    both = (sdf.select(F.col("doc_id"), F.md5("text").alias("digest"))
            .unionByName(sdf.select(
                (F.col("doc_id") + 10000).alias("doc_id"),
                F.md5("text").alias("digest"))))
    from pypond_spark.streaming.stream import stream_first_seen
    out = stream_first_seen(both, key_col="digest",
                            payload_cols=("doc_id",),
                            order_col="doc_id")
    return run_available_now(out, "append")


def _attrib_streams(spark, sf_dir):
    """The (views, clicks) stream pair both attribution rows share."""
    views = (_events_stream(spark, sf_dir)
             .where(F.col("event_type") == "view")
             .select("user_id", F.col("event_id").alias("view_id"),
                     "time"))
    clicks = (_events_stream(spark, sf_dir)
              .where(F.col("event_type") == "click")
              .select("user_id", F.col("event_id").alias("click_id"),
                      "time"))
    return views, clicks


def q_stream_attribution_join(spark, sf_dir):
    """Stream-stream watermarked interval join (streaming/stream.py::
    stream_attribution_join) — the one Structured Streaming capability
    the single-input stream tier didn't exercise: view and click
    streams (two file sources over events) inner-join on user within a
    1h horizon; Spark bounds both sides' join state by the watermark +
    time-range condition.  All matching pairs emit (batch interval-join
    semantics), so the oracle is the plain batch interval join."""
    from pypond_spark.streaming.stream import stream_attribution_join
    views, clicks = _attrib_streams(spark, sf_dir)
    out = stream_attribution_join(views, clicks, horizon="1h")
    return run_available_now(out, "append")


def q_stream_attribution_outer(spark, sf_dir):
    """Click-side OUTER stream-stream join (unmatched='emit'):
    conversions with no attributable view surface with NULL view
    columns once the watermark proves no view can still arrive — the
    expiry-driven outer-join machinery the inner form never touches.
    The oracle is the batch anti-join UNION the inner pairs, with the
    measured emission cutoff: a null row emits iff the click's event
    time is STRICTLY below the final global watermark
    (min of the two sides' max event times) — clicks at the frontier
    stay held in state."""
    from pypond_spark.streaming.stream import stream_attribution_join
    views, clicks = _attrib_streams(spark, sf_dir)
    out = stream_attribution_join(views, clicks, horizon="1h",
                                  unmatched="emit")
    return run_available_now(out, "append")


def q_stream_attribution_last_touch(spark, sf_dir):
    """Last-touch streaming attribution (streaming/stream.py::
    stream_attribution_touch — verdict r9 item 6): exactly ONE view per
    click, maintained across micro-batches by a second stateful
    operator (append-mode windowed argmax downstream of the interval
    join — a better view arriving in a later batch replaces the held
    candidate).  The oracle replays the batch interval join + a
    row_number argmax (min lag, tie min view_id) with the measured
    emission cutoff: a click's winner emits iff its tumbling-window end
    is at or below the final global watermark (min of the two sides'
    max event times)."""
    from pypond_spark.streaming.stream import stream_attribution_touch
    views, clicks = _attrib_streams(spark, sf_dir)
    out = stream_attribution_touch(views, clicks, horizon="1h")
    return run_available_now(out, "append")


def q_stream_attribution_first_touch(spark, sf_dir):
    """First-touch variant of stream_attribution_touch: the EARLIEST
    view within the horizon wins (max lag_ms; ties min view_id) — same
    two chained stateful operators, flipped argmax, same emission
    cutoff."""
    from pypond_spark.streaming.stream import stream_attribution_touch
    views, clicks = _attrib_streams(spark, sf_dir)
    out = stream_attribution_touch(views, clicks, horizon="1h",
                                   touch="first")
    return run_available_now(out, "append")


def q_stream_minhash_dedup(spark, sf_dir):
    """Streaming MinHash-LSH near-dup gate (streaming/stream.py::
    stream_minhash_dedup): row-local HOF minhash signatures (identical
    md5 derivation to the batch minhash_signature — JVM codegen, no
    Python outside the state op), 2 band keys per doc, first arrival
    claims each band.  Docs plus exact +10000-id clones flow through;
    clones share every band and claim nothing.  Batch twin: min doc_id
    per band bucket over the combined corpus."""
    sdf = _docs_stream(spark, sf_dir)
    both = (sdf.select("doc_id", "text")
            .unionByName(sdf.select(
                (F.col("doc_id") + 10000).alias("doc_id"), "text")))
    from pypond_spark.streaming.stream import stream_minhash_dedup
    out = stream_minhash_dedup(both, num_hashes=8, band_size=4)
    return run_available_now(out, "append")


def q_stream_minhash_dedup_indexed(spark, sf_dir):
    """Streaming near-dup gate against a PERSISTED corpus index
    (streaming/stream.py::stream_minhash_dedup(index_path=), r11):
    even docs are indexed via write_neardup_index (the same band keys
    as the stream's row-local HOF signatures — one banding contract);
    odd docs then stream through the gate.  Bands already in the
    corpus index count as claimed before the stream started (a
    stream-static LEFT ANTI join per micro-batch), so the claim table
    holds only bands NOVEL to the whole corpus+stream.  Batch twin:
    bands of odd docs minus bands of even docs, min doc_id per
    band."""
    import shutil
    import tempfile
    corpus = _read(spark, sf_dir, "documents") \
        .where(F.col("doc_id") % 2 == 0)
    path = tempfile.mkdtemp(prefix="pypond_ndidx_stream_")
    try:
        # layout="auto": see q_dedup_against_neardup
        dp_dedup.write_neardup_index(corpus, path, layout="auto")
        sdf = _docs_stream(spark, sf_dir)
        odd = (sdf.where(F.col("doc_id") % 2 == 1)
               .select("doc_id", "text"))
        from pypond_spark.streaming.stream import stream_minhash_dedup
        out = stream_minhash_dedup(odd, num_hashes=8, band_size=4,
                                   index_path=path)
        return run_available_now(out, "append")
    finally:
        shutil.rmtree(path, ignore_errors=True)


def q_stream_simhash_dedup(spark, sf_dir):
    """Streaming NEAR-dup ingestion gate (streaming/stream.py::
    stream_simhash_dedup): every doc plus a perturbed +10000-id clone
    (text || ' extra') flows through; per 16-bit SimHash band key the
    first arrival claims it, later hits are suppressed — clones share
    most bands with their originals, so they claim few or none.
    Append-mode output is the claim table (band, doc_id); the batch
    twin computes the identical md5 SimHash halves and takes min
    doc_id per band key."""
    sdf = _docs_stream(spark, sf_dir)
    both = (sdf.select("doc_id", "text")
            .unionByName(sdf.select(
                (F.col("doc_id") + 10000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" extra")).alias("text"))))
    from pypond_spark.streaming.stream import stream_simhash_dedup
    out = stream_simhash_dedup(both, n_bands=4)
    return run_available_now(out, "append")


def q_stream_bloom(spark, sf_dir):
    """Streaming Bloom filter (datapipe/sketch.py over a documents
    readStream, complete mode): membership state for an unbounded
    stream bounded at m_bits/32 words — bit_or is the canonical
    monotone streaming merge.  Drained words must equal the batch
    filter word-for-word (batch-SQL oracle), completing the trio:
    stream_cms_sketch (frequency), stream_hll (cardinality),
    stream_bloom (membership)."""
    sdf = _docs_stream(spark, sf_dir)
    keyed = sdf.select(F.md5("text").alias("digest"))
    out = dp_sketch.bloom_build(keyed, m_bits=2048, k=3)
    return run_available_now(out, "complete")


def q_heavy_hitters(spark, sf_dir):
    """Exact phi-heavy hitters via two-pass Misra-Gries candidates +
    recount (textstats.py::heavy_hitters): per-partition bounded
    summaries mean the full vocabulary NEVER shuffles, yet the answer
    is exact (MG is one-sided complete; the recount kills false
    positives) — so the oracle is a plain HAVING count.  phi=1/64
    splits the corpus: 30 common tokens pass, the planted rare one
    drops."""
    docs = _read(spark, sf_dir, "documents")
    return dp_text.heavy_hitters(docs, phi_inv=64)


def q_editdist_pairs(spark, sf_dir):
    """Levenshtein verification of LSH candidate pairs
    (datapipe/dedup.py::editdist_pairs): character-exact second-stage
    check after shingle banding — the DP runs only on banded candidates
    (JVM codegen levenshtein, no Python), never corpus^2.  min_sim=0.95
    genuinely splits the sf candidates (sims 0.937-0.992)."""
    docs = _read(spark, sf_dir, "documents")
    return dp_dedup.editdist_pairs(docs, min_sim=0.95,
                                   num_hashes=8, band_size=4)


def q_hll_distinct(spark, sf_dir):
    """HyperLogLog cardinality audit (datapipe/sketch.py, Flajolet et
    al. 2007) — the third classic mergeable sketch beside CMS and Bloom:
    per-source token distincts (~31 each, exercising the linear-counting
    small-range branch) plus the global doc-digest count (500,
    exercising the raw harmonic branch).  The harmonic sum is dyadic so
    Spark and the SQL replay agree bit-for-bit; the ln(m/V) branch uses
    V-indexed precomputed literals (V has only m possible values)."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(
        F.filter(dp_text._match_tokens("text"),
                 lambda t: t != F.lit(""))).alias("tok"))
    per_src = (dp_sketch.hll_audit(toks, "tok", m=64,
                                   group_cols=("source",))
               .select(F.col("source").alias("scope"), "hll_est",
                       "exact_distinct", "rel_err"))
    digests = docs.select(F.md5("text").alias("digest"))
    overall = (dp_sketch.hll_audit(digests, "digest", m=64)
               .select(F.lit("__docs__").alias("scope"), "hll_est",
                       "exact_distinct", "rel_err"))
    return per_src.unionByName(overall)


def q_oov_stats(spark, sf_dir):
    """Per-doc OOV rate vs a frequency-built vocabulary
    (textstats.py::oov_stats, min corpus frequency 30 — above the
    planted rare token's sf0.01 count, so rates genuinely split):
    train-broadcast-score shape; exact integer counts so only the final
    rate divides."""
    docs = _read(spark, sf_dir, "documents")
    return dp_text.oov_stats(docs, min_count=30)


def q_leakage_safe_splits(spark, sf_dir):
    """Cluster-keyed train/val/test assignment
    (sampling.py::leakage_safe_splits): the dedup chain labels near-dup
    clusters, then the hash-range split keys on cluster_id so every
    cluster member shares a split — eval can't contain a train doc's
    near-duplicate by construction.  Oracle = the shared dedup-chain
    replay + the same md5 hash cut on the cluster label."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_sample.leakage_safe_splits(
        docs, {"train": 0.9, "val": 0.05, "test": 0.05},
        jaccard_threshold=0.8)
    return out.select("doc_id", "cluster_id", "split")


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training
    (similarity.py::hard_negatives): per anchor, the 2 most-similar
    OTHER-label vectors within its k-means cell — centroids from the
    shared memoized ivf_build so the oracle replays the identical
    k-means, then the same cell-bounded different-label top-k."""
    embs = _read(spark, sf_dir, "embeddings")
    cents = _ivf_cents(spark, sf_dir, embs)
    return dp_sim.hard_negatives(embs, k=2, centroids=cents, quantize=6)


def q_embedding_near_dups(spark, sf_dir):
    """Exact all-pairs cosine baseline; dim passed so the per-pair dot is
    an unpacked codegen multiply-add chain (same left-fold values as the
    HOF form, ~3x at sf0.1 — similarity.py::embedding_near_dups)."""
    embs = _read(spark, sf_dir, "embeddings")
    dim = len(embs.select("embedding").first()["embedding"])
    out = dp_sim.embedding_near_dups(embs, threshold=0.4, dim=dim)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def q_embedding_near_dups_lsh(spark, sf_dir):
    embs = _read(spark, sf_dir, "embeddings")
    dim = len(embs.select("embedding").first()["embedding"])
    out = dp_sim.embedding_near_dups_lsh(embs, dim, threshold=0.4, nbits=4)
    return out.select("id_a", "id_b",
                      F.round("cosine", 6).alias("cosine"))


def q_embedding_sign_sketch(spark, sf_dir):
    """Sign-bit binarization of the embedding column
    (similarity.py::embedding_signs): two unsigned 32-bit sketch words
    per vector, bit j = 1 iff vec[j] >= 0 — pure scan-level expressions,
    the 1-bit quantization a binary-hash ANN prefilter stores."""
    embs = _read(spark, sf_dir, "embeddings")
    return dp_sim.embedding_signs(embs, dim=64)


def q_embedding_hamming_dups(spark, sf_dir):
    """Hamming near-dup prefilter over sign sketches
    (similarity.py::embedding_hamming_near_dups, 16-bit-chunk blocking,
    pigeonhole-complete for hamming<=3).  The corpus' closest natural
    pair sits at hamming 15, so the query plants twins: vectors 0-49
    duplicated at id+100000 with dims 1-2 negated — each twin lands
    within hamming<=2 of its original and nothing else, so the expected
    output is exactly the planted pairs.  The oracle recomputes sketches
    and does the all-pairs filter (no blocking) — same pairs iff the
    blocked join is complete at this radius."""
    embs = _read(spark, sf_dir, "embeddings")
    twins = (embs.where(F.col("vec_id") < 50)
             .select((F.col("vec_id") + 100000).alias("vec_id"),
                     F.concat(
                         F.array(-F.element_at("embedding", 1),
                                 -F.element_at("embedding", 2)),
                         F.slice("embedding", 3, 62)).alias("embedding")))
    planted = embs.select("vec_id", "embedding").unionByName(twins)
    return dp_sim.embedding_hamming_near_dups(planted, dim=64,
                                              max_hamming=3)



def q_pca_embeddings(spark, sf_dir):
    """Leading-2 principal-component projection (similarity.py::
    pca_project; Hotelling 1933 power iteration with deflation): fit is
    ONE bounded-shuffle pass (partial agg caps the exchange at d(d+3)/2
    cells/partition) + O(d^2) driver math in left-fold float ops;
    projection inlines mu/component literals into left-associative
    chains (the jl_projection recipe).  The oracle replays the ENTIRE
    fit — micro-int moment sums, covariance, 20 power-iteration steps
    as a recursive CTE carrying v as a LIST, sign pin, deflation — and
    lands on identical doubles."""
    embs = _read(spark, sf_dir, "embeddings")
    return dp_sim.pca_project(embs, n_components=2, iters=20)



def q_mutual_info_type_hour(spark, sf_dir):
    """Mutual-information audit between event_type and hour-of-day
    (datapipe/validate.py::mutual_information): MI, marginal entropies
    and normalized MI in nats — the feature-association gate beside the
    PSI drift check.  ONE corpus shuffle (the joint groupBy); every
    term pinned to nano-nat BIGINTs before the order-independent sum
    (the dsir discipline), so the twin hash-matches."""
    from pypond_spark.datapipe import validate as dp_val
    ev = _events_df(spark, sf_dir)
    ev = ev.withColumn(
        "hour", F.floor(F.unix_millis(F.col("ts")) / F.lit(3600000))
        % 24)
    return dp_val.mutual_information(ev, "event_type", "hour")



def q_bursts_by_type(spark, sf_dir):
    """Kleinberg burst intervals per event_type (operators/burst.py::
    kleinberg_bursts, KDD 2002): two-state Viterbi over hourly share-
    of-traffic, costs pinned to micro-nat BIGINTs, the path carried IN
    the scan-level fold (two candidate state strings — no Python, no
    extra shuffle beyond the bucket groupBys).  s=1.5, gamma=0.2 fires
    163 informative bursts at sf.  The oracle replays the exact DP as
    a recursive CTE and the gaps-and-islands interval assembly."""
    from pypond_spark.operators.burst import kleinberg_bursts
    ev = _events_df(spark, sf_dir).withColumnRenamed("ts", "time")
    return kleinberg_bursts(ev, bucket="1h",
                            partition_by=("event_type",),
                            s=1.5, gamma=0.2)



def q_chi2_lang_source(spark, sf_dir):
    """Chi-squared independence audit between lang and source on the
    documents table (datapipe/validate.py::chi_squared): X² over the
    FULL r×k grid (zero cells contribute their expectation), dof and
    Cramér's V — the significance companion to the MI audit.  Exact
    integer counts into one division per cell, terms pinned to
    nano-units before the order-independent sum."""
    from pypond_spark.datapipe import validate as dp_val
    docs = _read(spark, sf_dir, "documents")
    return dp_val.chi_squared(docs, "lang", "source")


def q_isotonic_calibration(spark, sf_dir):
    """Isotonic (PAV) calibration of document length against the
    is-English rate (datapipe/validate.py::isotonic_calibration,
    Ayer 1955 / RWD 1988 minimax identity): rank-cumulative binning of
    the quantized score onto 8 bins, pooled means from exact micro-unit
    BIGINT prefix sums, then ``iso_i = max_{j<=i} min_{k>=i}
    mean(j..k)`` as pure joins over the <=B-row bin frame — flat plan,
    no sequential recursion, every mean ONE BIGINT/BIGINT division so
    the SQL twin hash-matches."""
    from pypond_spark.datapipe import validate as dp_val
    docs = _read(spark, sf_dir, "documents")
    base = docs.select(
        F.col("n_chars").cast("double").alias("score"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("target"))
    return dp_val.isotonic_calibration(base, "score", "target", bins=8)


def q_calibrate_scores(spark, sf_dir):
    """Isotonic fit APPLY (datapipe/validate.py::calibrate_scores):
    the step-function companion of isotonic_calibration — every doc's
    length score maps to the rate_iso of the last fitted bin whose
    score_lo does not exceed it (right-continuous step, below-range
    clamps to bin 0).  Fit composed in-plan (no collect); lookup is a
    broadcast theta-join over the 8-row bin frame + one per-row
    argmax."""
    from pypond_spark.datapipe import validate as dp_val
    docs = _read(spark, sf_dir, "documents")
    base = docs.select(
        F.col("doc_id"),
        F.col("n_chars").cast("double").alias("score"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0)
        .alias("target"))
    fit = dp_val.isotonic_calibration(base, "score", "target", bins=8)
    return dp_val.calibrate_scores(base.select("doc_id", "score"),
                                   fit, "score")


def q_quantize_int8(spark, sf_dir):
    """Symmetric absmax int8 embedding quantization
    (similarity.py::quantize_int8, Jacob et al. 2018 per-vector): one
    HOF absmax fold + one codes transform per row, scan-level only.
    Codes use floor(x + 0.5) instead of round() — deterministic in
    IEEE doubles on any engine (the recipe-#5 near-tie family) — so
    the oracle's identical expression hash-matches every component."""
    embs = _read(spark, sf_dir, "embeddings")
    return dp_sim.quantize_int8(embs, dim=64)


# demo blocklist for q_blocklist_stats: spam/CTA markers plus corpus
# words so counts vary (real deployments supply their curated lists)
_BLOCKLIST = ["click here", "buy now", "free trial",
              "table scan", "hash join", "key value"]


def q_blocklist_stats(spark, sf_dir):
    """Phrase-blocklist filter (datapipe/textstats.py::blocklist_stats,
    the C4 word-filter rule generalized): case-insensitive whole-word
    occurrence counts for a caller-supplied phrase list, summed per
    doc — the demo list mixes spam markers with corpus bigrams so the
    counts vary.  Scan-level regexp chain; the oracle counts the same
    \\b-bounded matches."""
    docs = _read(spark, sf_dir, "documents")
    return dp_text.blocklist_stats(docs, _BLOCKLIST, min_hits=2)


def q_script_stats(spark, sf_dir):
    """Unicode script composition (datapipe/textstats.py::
    script_stats): the ASCII corpus is salted with deterministic
    Cyrillic (doc_id%7==0) and CJK (doc_id%11==0) suffixes so every
    ratio column varies — wrong-script contamination detection, the
    pre-filter beside marker-word language ID.  Explicit code-point
    ranges (Java and RE2 agree on ranges, not on property names), so
    the oracle counts the identical classes."""
    docs = _read(spark, sf_dir, "documents")
    salted = docs.withColumn(
        "text",
        F.concat(F.col("text"),
                 F.when(F.col("doc_id") % 7 == 0,
                        F.lit(" привет мир")).otherwise(F.lit("")),
                 F.when(F.col("doc_id") % 11 == 0,
                        F.lit(" 漢字文字")).otherwise(F.lit(""))))
    return dp_text.script_stats(salted)


def q_ngram_novelty(spark, sf_dir):
    """Per-doc n-gram novelty vs the id-ordered corpus prefix
    (datapipe/textstats.py::ngram_novelty): share of a doc's distinct
    3-grams whose FIRST corpus occurrence is this doc — the
    contribution/curation score (boilerplate ~0, fresh text ~1).  Two
    bounded shuffles (distinct pairs, gram-keyed min) + one join; the
    oracle is the same min-per-gram replay."""
    docs = _read(spark, sf_dir, "documents")
    return dp_text.ngram_novelty(docs, n=3)


def q_jl_projection(spark, sf_dir):
    """Johnson-Lindenstrauss 64→16 Rademacher projection
    (similarity.py::random_projection, seed 0): sign-woven add/sub
    chains make the fold order explicit, so the oracle weaving the
    identical ± pattern matches every coordinate bit-exactly — no
    rounding on either side."""
    embs = _read(spark, sf_dir, "embeddings")
    return dp_sim.random_projection(embs, dim=64, out_dim=16, seed=0)


# Fixed unigram-LM vocabulary for the unigram_tokenize query: pieces that
# cover the corpus' frequent words (table/key/scan/value/hash/...) with
# distinct micro-nat scores (no exact ties), plus the unk single-char
# fallback for everything else.  Mirrored literally into the oracle's
# score CASE.
_UNIGRAM_VOCAB = {
    p: -800_000 - 7_000 * i for i, p in enumerate([
        "tab", "le", "key", "sca", "n", "val", "ue", "has", "h",
        "row", "agg", "slo", "w", "fas", "t", "par", "joi", "dat",
        "a", "lin", "e", "bat", "ch", "win", "dow", "spa", "rk",
        "ord", "er", "col", "umn", "sma", "ll", "que", "ry",
        "cus", "tom", "u", "j", "b", "s", "c", "d",
    ])
}


# Fixed WordPiece vocabulary for the wordpiece_tokenize query: whole
# corpus words, a few pieces that force multi-piece greedy splits, and
# the single-letter floor (plain + ## continuations) so UNK stays rare
# but real.  Mirrored literally into the oracle's VALUES list.
_WORDPIECE_VOCAB = (
    ["table", "key", "scan", "value", "hash", "row", "agg", "join",
     "spark", "batch", "window", "order", "column", "line", "query",
     "part", "small", "fast", "slow", "data",
     "cust", "##omer", "tab", "##le", "val", "##ue", "sc", "##an"]
    + list("abcdefghijklmnopqrstuvwxyz")
    + ["##" + c for c in "abcdefghijklmnopqrstuvwxyz"])


def q_wordpiece_tokenize(spark, sf_dir):
    """WordPiece inference (tokenize.py::wordpiece_apply, Wu et al.
    2016 / the BERT tokenizer): greedy longest-match-first per DISTINCT
    word over a broadcast vocabulary presence array, ##-prefixed
    continuations, whole-word [UNK] on any unmatchable position — the
    third tokenizer family beside BPE (merge-based) and unigram-LM
    (likelihood-based).  The oracle replays the greedy scan as a
    recursive CTE over the same presence lists."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_tok.wordpiece_apply(docs, _WORDPIECE_VOCAB, max_word_len=12)
    return out.select("doc_id", "n_tokens",
                      F.concat_ws(" ", "tokens").alias("token_stream"))


def q_unigram_tokenize(spark, sf_dir):
    """Unigram-LM inference with a fixed integer-score vocabulary
    (tokenize.py::unigram_apply, Kudo 2018): Viterbi-best segmentation
    per DISTINCT word — the scan-level aggregate-fold DP with the
    longer-piece tie-break — then reassembly in document word order.
    The oracle replays the identical DP as a recursive CTE carrying
    the D-list and segmentation string per word."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_tok.unigram_apply(docs, _UNIGRAM_VOCAB, max_word_len=12)
    return out.select("doc_id", "n_tokens",
                      F.concat_ws(" ", "tokens").alias("token_stream"))


def q_unigram_train(spark, sf_dir):
    """Unigram-LM training (tokenize.py::unigram_train, Kudo 2018 hard
    EM): substring-seed candidates (all chars + top-80 multi-char by
    weighted count), two Viterbi-EM rounds over the distinct-word
    frame, prune to the top-40 pieces.  Integer micro-nat scores and
    explicit tie-breaks everywhere, so the oracle replays the ENTIRE
    loop — seed counts, both Viterbi rounds (recursive CTEs), both
    recounts, the prune — and must match piece-for-piece."""
    docs = _read(spark, sf_dir, "documents")
    return dp_tok.unigram_train(docs, vocab_size=40, max_piece_len=3,
                                iters=2, max_word_len=12)


# Fixed merge table for the bpe_tokenize query: ranks that assemble the
# corpus' most frequent words (table/key/scan/value/hash) stepwise, so the
# output exercises chained merges, rank order, and mid-word stops.
# byte-level merges in GPT-2 MAPPED space (Ġ = the 0x20 space byte):
# the space-gluing ranks are what distinguish the byte-level family
_BPE_BYTES_MERGES = [
    ("t", "h"), ("th", "e"), ("Ġ", "the"),
    ("a", "n"), ("an", "d"), ("Ġ", "and"),
    ("i", "n"), ("Ġ", "in"),
    ("s", "c"), ("sc", "a"), ("sca", "n"), ("Ġ", "scan"),
    ("e", "r"),
]


def q_bpe_bytes_tokenize(spark, sf_dir):
    """Byte-level (GPT-2) BPE inference (tokenize.py::bpe_bytes_apply):
    GPT-2-style chunk pre-tokenization, UTF-8 byte symbolization via
    the fixed bytes-to-unicode alphabet, then the rank-ordered literal
    replace chain — run once per DISTINCT chunk (the per-distinct-word
    cost contract) and reassembled in chunk order.  The oracle rebuilds
    every byte from hex with pure strpos arithmetic (no hex casts) and
    replays the identical replace chain."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_tok.bpe_bytes_apply(docs, _BPE_BYTES_MERGES)
    return out.select("doc_id", "n_tokens",
                      F.concat_ws(" ", "tokens").alias("token_stream"))


def _byte_sym_agg() -> str:
    """The ONE hex->byte-symbol string_agg both byte-BPE oracles share
    (per the r4 no-hex-cast drift note: strpos arithmetic only): input
    rows must carry (h hex string, i 1-based byte index)."""
    from pypond_spark.datapipe.tokenize import BYTE_ALPHABET
    alpha = BYTE_ALPHABET.replace("'", "''")
    return f"""string_agg(chr(31) || substr('{alpha}',
                     (strpos('0123456789ABCDEF',
                             substr(h, 2 * i - 1, 1)) - 1) * 16
                     + strpos('0123456789ABCDEF', substr(h, 2 * i, 1)),
                     1) || chr(31), '' ORDER BY i)"""


def q_bpe_bytes_train_merges(spark, sf_dir):
    """Byte-level BPE training, 6 ranks (tokenize.py::bpe_bytes_train):
    per rank ONE pair-count shuffle over the CHUNK VOCABULARY weighted
    by chunk frequency + deterministic argmax (weighted count DESC,
    then lexicographic in mapped space) + scan-level rewrite.  The
    oracle replays the full loop as generated MATERIALIZED CTE stages
    (inlined stages double per rank — 2^6 re-expansions of the
    symbolize chain without materialization)."""
    docs = _read(spark, sf_dir, "documents")
    merges = dp_tok.bpe_bytes_train(docs, n_merges=6)
    return spark.createDataFrame(
        [(i + 1, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "merge_rank int, left_sym string, right_sym string, "
        "pair_count long")


def _bpe_bytes_train_sql(n_merges: int) -> str:
    """DuckDB twin of bpe_bytes_train: the _bpe_bytes_sql symbolize
    machinery over the DISTINCT-chunk frame with counts, then the
    generated per-rank pair-count/argmax/rewrite chain of
    _bpe_train_sql, weighted by chunk frequency."""
    from pypond_spark.datapipe.tokenize import BYTE_CHUNK_PATTERN
    parts = [f"""cc AS MATERIALIZED (
          SELECT chunk, count(*) AS wc FROM (
            SELECT unnest(regexp_extract_all(text,
                '{BYTE_CHUNK_PATTERN}', 0)) AS chunk
            FROM documents)
          GROUP BY chunk
        ), hxi AS MATERIALIZED (
          SELECT chunk, wc, h, unnest(generate_series(1, len(h) // 2)) AS i
          FROM (SELECT chunk, wc, hex(encode(chunk)) AS h FROM cc)
        ), st0 AS MATERIALIZED (
          SELECT {_byte_sym_agg()} AS s,
                 any_value(wc) AS wc
          FROM hxi GROUP BY chunk
        )"""]
    for i in range(1, n_merges + 1):
        parts.append(f"""p{i} AS (
              SELECT u.l AS l, u.r AS r, CAST(sum(wc) AS BIGINT) AS c
              FROM (
                SELECT wc, unnest([{{'l': a[k], 'r': a[k+1]}}
                               for k in generate_series(
                                   1, greatest(len(a)-1, 0))]) AS u
                FROM (SELECT wc, list_filter(string_split(s, chr(31)),
                                             t -> t != '') AS a
                      FROM st{i - 1})
              )
              GROUP BY u.l, u.r)""")
        parts.append(f"t{i} AS (SELECT l, r, c FROM p{i} "
                     f"ORDER BY c DESC, l, r LIMIT 1)")
        if i < n_merges:
            parts.append(
                f"st{i} AS MATERIALIZED (SELECT replace(s, "
                f"chr(31)||l||chr(31)||chr(31)||r||chr(31), "
                f"chr(31)||l||r||chr(31)) AS s, wc "
                f"FROM st{i - 1} CROSS JOIN t{i})")
    unions = "\n            UNION ALL ".join(
        f"SELECT {i} AS merge_rank, l AS left_sym, r AS right_sym, "
        f"c AS pair_count FROM t{i}"
        for i in range(1, n_merges + 1))
    return "WITH " + ",\n            ".join(parts) + "\n            " + unions


def q_wordpiece_train_merges(spark, sf_dir):
    """WordPiece training, 5 ranks (tokenize.py::wordpiece_train,
    Schuster & Nakajima 2012 / the BERT recipe): per rank ONE tagged
    pair+unit count shuffle over the distinct-word frame, argmax on the
    likelihood gain count(xy)/(count(x)count(y)) — an IEEE ratio of
    exact integers, identical doubles on any engine — ties breaking
    lexicographically.  Output is all-integer evidence; the oracle
    replays the full loop as generated MATERIALIZED CTE stages."""
    docs = _read(spark, sf_dir, "documents")
    merges = dp_tok.wordpiece_train(docs, n_merges=5)
    return spark.createDataFrame(
        [(i + 1, *m) for i, m in enumerate(merges)],
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count long, left_count long, "
        "right_count long")


def _wordpiece_train_sql(n_merges: int) -> str:
    """DuckDB twin of wordpiece_train: ##-marked symbolization of the
    distinct-word frame, then per rank a tagged pair+unit count, the
    ratio argmax (same integer-derived doubles), and the rewrite."""
    parts = ["""st0 AS MATERIALIZED (
          SELECT chr(31) || substr(w, 1, 1) || chr(31)
                 || coalesce(array_to_string(list_transform(
                        generate_series(2, len(w)),
                        i -> chr(31) || '##' || substr(w, i, 1)
                             || chr(31)), ''), '') AS s,
                 wc
          FROM (SELECT substr(w0, 1, 12) AS w, count(*) AS wc
                FROM (SELECT unnest(string_split_regex(trim(text),
                                                       '\\s+')) AS w0
                      FROM documents)
                WHERE w0 != '' GROUP BY substr(w0, 1, 12))
        )"""]
    for i in range(1, n_merges + 1):
        parts.append(f"""c{i} AS MATERIALIZED (
              SELECT u.k AS k, u.l AS l, u.r AS r,
                     CAST(sum(wc) AS BIGINT) AS c
              FROM (
                SELECT wc, unnest(
                  [{{'k': 1, 'l': a[k], 'r': a[k+1]}}
                   for k in generate_series(1, greatest(len(a)-1, 0))]
                  || [{{'k': 0, 'l': a[k], 'r': ''}}
                      for k in generate_series(1, len(a))]) AS u
                FROM (SELECT wc, list_filter(string_split(s, chr(31)),
                                             t -> t != '') AS a
                      FROM st{i - 1})
              )
              GROUP BY u.k, u.l, u.r)""")
        parts.append(f"""t{i} AS (
              SELECT p.l AS l, p.r AS r, p.c AS cp,
                     ul.c AS cl, ur.c AS cr
              FROM c{i} p
              JOIN c{i} ul ON ul.k = 0 AND ul.l = p.l
              JOIN c{i} ur ON ur.k = 0 AND ur.l = p.r
              WHERE p.k = 1
              ORDER BY p.c / (CAST(ul.c AS DOUBLE)
                              * CAST(ur.c AS DOUBLE)) DESC,
                       p.l, p.r LIMIT 1)""")
        if i < n_merges:
            parts.append(
                f"st{i} AS MATERIALIZED (SELECT replace(s, "
                f"chr(31)||l||chr(31)||chr(31)||r||chr(31), "
                f"chr(31)||l||substr(r, 3)||chr(31)) AS s, wc "
                f"FROM st{i - 1} CROSS JOIN t{i})")
    unions = "\n            UNION ALL ".join(
        f"SELECT {i} AS merge_rank, l AS left_sym, r AS right_sym, "
        f"l || substr(r, 3) AS merged, cp AS pair_count, "
        f"cl AS left_count, cr AS right_count FROM t{i}"
        for i in range(1, n_merges + 1))
    return "WITH " + ",\n            ".join(parts) + "\n            " + unions


def _bpe_bytes_sql(merges) -> str:
    """DuckDB twin of bpe_bytes_apply: chunk split (same RE2/Java
    pattern), hex -> alphabet substr per byte (strpos arithmetic, no
    '0x' casts per the r4 drift note), nested replace chain, ordered
    per-doc reassembly."""
    from pypond_spark.datapipe.tokenize import BYTE_CHUNK_PATTERN
    expr = "s"
    for x, y in merges:
        qx, qy, qxy = (v.replace("'", "''") for v in (x, y, x + y))
        expr = (f"replace({expr}, "
                f"chr(31)||'{qx}'||chr(31)||chr(31)||'{qy}'||chr(31), "
                f"chr(31)||'{qxy}'||chr(31))")
    return f"""
        WITH ch AS (
          SELECT doc_id, unnest(cs) AS chunk,
                 generate_subscripts(cs, 1) AS pos
          FROM (SELECT doc_id,
                       regexp_extract_all(text,
                           '{BYTE_CHUNK_PATTERN}', 0) AS cs
                FROM documents)
        ), dc AS (
          SELECT DISTINCT chunk FROM ch
        ), hx AS (
          SELECT chunk, hex(encode(chunk)) AS h FROM dc
        ), hxi AS (
          -- generate_series must be an expression list + unnest here:
          -- DuckDB's table-function form rejects lateral column args
          SELECT chunk, h,
                 unnest(generate_series(1, len(h) // 2)) AS i
          FROM hx
        ), sym AS (
          SELECT chunk,
                 {_byte_sym_agg()} AS s
          FROM hxi
          GROUP BY chunk
        ), tok AS (
          SELECT chunk,
                 list_filter(string_split({expr}, chr(31)),
                             t -> t != '') AS toks
          FROM sym
        ), flat AS (
          SELECT ch.doc_id,
                 string_agg(array_to_string(toks, ' '), ' '
                            ORDER BY ch.pos) AS stream,
                 sum(len(toks)) AS n
          FROM ch JOIN tok USING (chunk)
          GROUP BY ch.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(f.n, 0) AS BIGINT) AS n_tokens,
               coalesce(f.stream, '') AS token_stream
        FROM documents d LEFT JOIN flat f USING (doc_id)
    """


_BPE_MERGES = [
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("k", "e"), ("ke", "y"),
    ("s", "c"), ("sc", "a"), ("sca", "n"),
    ("v", "a"), ("va", "l"), ("val", "u"), ("valu", "e"),
    ("h", "a"), ("ha", "s"), ("has", "h"),
]


def q_bpe_tokenize(spark, sf_dir):
    """BPE inference over a fixed 16-rank merge table
    (tokenize.py::bpe_apply): one literal left-to-right replace per rank
    on the separator-encoded symbol string — scan-level codegen, no
    shuffle; the oracle nests the identical replace chain.  Tokens are
    emitted space-joined (scalar columns hash across engines; no
    registry precedent for array-column driver hashes)."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_tok.bpe_apply(docs, _BPE_MERGES)
    return out.select("doc_id", "n_tokens",
                      F.concat_ws(" ", "tokens").alias("token_stream"))


def q_bpe_train_merges(spark, sf_dir):
    """BPE training, 6 ranks (tokenize.py::bpe_train, Sennrich et al.
    2016): per rank ONE adjacent-pair count shuffle + deterministic
    argmax (count DESC, then lexicographic) + scan-level rewrite.  The
    oracle replays the full training loop as 6 generated CTE stages —
    every rank's (pair, count) must match exactly."""
    docs = _read(spark, sf_dir, "documents")
    merges = dp_tok.bpe_train(docs, n_merges=6)
    return spark.createDataFrame(
        [(i + 1, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "merge_rank int, left_sym string, right_sym string, "
        "pair_count long")


def q_multimodal_features(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    media = dp_mm.attach_binary(docs, "text", "doc_id")
    out = dp_mm.extract_features(media, fake=True)
    return out.select("media_id", "n_bytes", "digest")


def q_multimodal_decode_image(spark, sf_dir):
    """REAL image decode (not the fake path): a 2x2 binary-PPM image is
    synthesized per doc (P6 header + 12 of the doc's md5 digest bytes as
    RGB pixels) and decoded by the pure-Python PPM decoder. Channel means
    are sums of 4 bytes / 4 — exact doubles — so the oracle reproduces
    them from the same md5 hex with integer arithmetic."""
    docs = _read(spark, sf_dir, "documents")
    content = F.concat(F.lit(b"P6\n2 2\n255\n"),
                       F.unhex(F.substring(F.md5("text"), 1, 24)))
    media = docs.select(F.col("doc_id").cast("long").alias("media_id"),
                        content.alias("content"))
    return dp_mm.image_stats(media)


def _synth_ppm8(docs):
    """8x8 binary-PPM per doc: P6 header + 192 pixel bytes drawn from 12
    chained md5 digests of the text — every byte reproducible in SQL as
    a hex substring, so perceptual hashes over the DECODED pixels are
    fully oracle-replayable."""
    parts = [F.unhex(F.md5(F.concat(F.col("text"), F.lit(f"#{k}"))))
             for k in range(12)]
    return _spread(docs).select(F.col("doc_id").cast("long").alias("media_id"),
                       F.concat(F.lit(b"P6\n8 8\n255\n"), *parts)
                       .alias("content"))


def q_image_phash(spark, sf_dir):
    """Perceptual image hashes over REAL decoded pixels
    (multimodal.py::image_phash): PPM decode in Arrow-batched
    mapInPandas, 4x4 box pooling of the 8x8 synthetic image, then
    all-integer aHash (cell vs image mean, cross-multiplied by areas)
    and dHash (cell vs right neighbor) packed into BIGINTs.  The oracle
    rebuilds every pixel byte from the md5 hex and replays the exact
    integer comparisons."""
    docs = _read(spark, sf_dir, "documents")
    return dp_mm.image_phash(_synth_ppm8(docs), grid_w=4, grid_h=4)


def q_image_near_dups(spark, sf_dir):
    """Near-duplicate images by Hamming distance on the perceptual
    aHash (multimodal.py::image_near_dups): the pigeonhole chunk
    blocker (4 chunks, radius 2 — complete by pigeonhole) keys the
    candidate join, one XOR popcount verifies.  The oracle filters
    all pairs directly — identical result set because the blocking is
    recall-complete at this radius."""
    docs = _read(spark, sf_dir, "documents")
    return dp_mm.image_near_dups(_synth_ppm8(docs), grid_w=4, grid_h=4,
                                 max_hamming=2, use="ahash", n_chunks=4)


def _synth_png8(docs):
    """8x8 REAL PNG per doc: the SAME chained-md5 pixel recipe as
    :func:`_synth_ppm8`, encoded by ``multimodal.encode_png`` (zlib
    IDAT, scanline filters 0-4 cycled so the decoder exercises every
    unfilter path) in an Arrow batch.  The oracle replays the DECODED
    pixels straight from the md5 hex, so a driver-green row proves the
    full PNG encode->decode roundtrip is pixel-lossless."""
    import pandas as _pd

    from pypond_spark.datapipe.multimodal import encode_png

    ppm = _synth_ppm8(docs)

    def enc(batches):
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                px = bytes(content)[len(b"P6\n8 8\n255\n"):]
                rows.append((int(mid),
                             encode_png(8, 8, px, filters=(0, 1, 2, 3, 4))))
            yield _pd.DataFrame(rows, columns=["media_id", "content"])

    return ppm.mapInPandas(enc, "media_id long, content binary")


def _synth_png_palette8(docs):
    """8x8 REAL palette (color type 3) PNG per doc: the PLTE is the
    SAME 192 chained-md5 pixel bytes as :func:`_synth_ppm8` (64 RGB
    triples — duplicate colors are legal) and the index scanlines are
    0..63 with all five filters cycled, so the DECODED image is
    pixel-identical to the PPM/PNG8 rows while exercising the palette
    decode path end to end (PLTE parse, bpp=1 unfilter, index
    lookup)."""
    import pandas as _pd

    from pypond_spark.datapipe.multimodal import encode_png_indexed

    ppm = _synth_ppm8(docs)

    def enc(batches):
        idx = bytes(range(64))
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                px = bytes(content)[len(b"P6\n8 8\n255\n"):]
                rows.append((int(mid),
                             encode_png_indexed(8, 8, idx, px,
                                                filters=(0, 1, 2, 3, 4))))
            yield _pd.DataFrame(rows, columns=["media_id", "content"])

    return ppm.mapInPandas(enc, "media_id long, content binary")


def q_image_phash_png_palette(spark, sf_dir):
    """Perceptual hashes over pixels decoded from a REAL palette PNG
    (multimodal.py::_decode_png color type 3 + encode_png_indexed —
    verdict r9 item 4: palette PNGs are common in real crawls):
    identical downstream aHash/dHash chain and identical oracle as
    ``image_phash``, because the palette maps indices 0..63 onto the
    same chained-md5 pixel bytes — a green row certifies the PLTE
    encode->decode roundtrip."""
    docs = _read(spark, sf_dir, "documents")
    return dp_mm.image_phash(_synth_png_palette8(docs), grid_w=4,
                             grid_h=4)


def q_image_phash_png(spark, sf_dir):
    """Perceptual hashes over pixels decoded from REAL PNG bytes
    (multimodal.py::_decode_png — stdlib-zlib critical-chunk decoder,
    all five scanline filters, CRC-verified): identical downstream
    aHash/dHash chain as ``image_phash``, identical oracle, because the
    synthetic PNG encodes the same chained-md5 pixels — the driver row
    certifies the codec roundtrip, not just the hash."""
    docs = _read(spark, sf_dir, "documents")
    return dp_mm.image_phash(_synth_png8(docs), grid_w=4, grid_h=4)


def q_image_phash_png_adam7(spark, sf_dir):
    """Perceptual hashes over pixels decoded from an Adam7-INTERLACED
    PNG (multimodal.py::_decode_png interlace method 1 — r12: seven
    sub-image passes, each its own filter chain, scattered onto the
    pixel grid): the synthetic stream encodes the same chained-md5
    pixels interlaced, so the oracle is unchanged — a green row proves
    interlacing is presentation order only, decoded pixels identical
    to the sequential row."""
    import pandas as _pd

    from pypond_spark.datapipe.multimodal import encode_png

    docs = _read(spark, sf_dir, "documents")
    ppm = _synth_ppm8(docs)

    def enc(batches):
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                px = bytes(content)[len(b"P6\n8 8\n255\n"):]
                rows.append((int(mid),
                             encode_png(8, 8, px, filters=(0, 1, 2, 3, 4),
                                        interlace=True)))
            yield _pd.DataFrame(rows, columns=["media_id", "content"])

    adam7 = ppm.mapInPandas(enc, "media_id long, content binary")
    return dp_mm.image_phash(adam7, grid_w=4, grid_h=4)


def q_image_phash_bmp_rle8(spark, sf_dir):
    """Perceptual hashes over pixels decoded from an RLE8-compressed
    BMP (datapipe/bmp.py::_decode_rle — r12: encoded runs,
    end-of-line/end-of-bitmap escapes): palette = the same 192
    chained-md5 pixel bytes as the PPM row, indices 0..63, so the
    decoded image is pixel-identical to every other lossless-codec row
    and the oracle replays from the digest hex unchanged."""
    import pandas as _pd

    from pypond_spark.datapipe.bmp import encode_bmp_rle8

    docs = _read(spark, sf_dir, "documents")
    ppm = _synth_ppm8(docs)

    def enc(batches):
        idx = bytes(range(64))
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                px = bytes(content)[len(b"P6\n8 8\n255\n"):]
                rows.append((int(mid),
                             encode_bmp_rle8(8, 8, idx, px)))
            yield _pd.DataFrame(rows, columns=["media_id", "content"])

    rle = ppm.mapInPandas(enc, "media_id long, content binary")
    return dp_mm.image_phash(rle, grid_w=4, grid_h=4)


def _synth_gif8(docs):
    """8x8 REAL GIF per doc: the palette is the SAME 192 chained-md5
    pixel bytes as :func:`_synth_ppm8` (64 RGB triples) and the index
    stream is 0..63 with interlace alternating by doc parity, so the
    DECODED image is pixel-identical to the PPM/PNG rows while
    exercising the full GIF path (LZW decode, color-table lookup,
    4-pass interlace reorder) end to end."""
    import pandas as _pd

    from pypond_spark.datapipe.gif import encode_gif

    ppm = _synth_ppm8(docs)

    def enc(batches):
        idx = bytes(range(64))
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                px = bytes(content)[len(b"P6\n8 8\n255\n"):]
                rows.append((int(mid),
                             encode_gif(8, 8, idx, px,
                                        interlace=bool(mid % 2))))
            yield _pd.DataFrame(rows, columns=["media_id", "content"])

    return ppm.mapInPandas(enc, "media_id long, content binary")


def q_image_phash_gif(spark, sf_dir):
    """Perceptual hashes over pixels decoded from REAL GIF bytes
    (datapipe/gif.py::decode_gif — variable-width LZW, color table,
    interlace reorder on odd-id docs): identical downstream aHash/dHash
    chain as ``image_phash``, identical oracle, because the synthetic
    GIF's palette IS the same chained-md5 pixel bytes — GIF is lossless
    for paletted content, so a green row certifies the LZW
    encode->decode roundtrip bit-for-bit."""
    docs = _read(spark, sf_dir, "documents")
    return dp_mm.image_phash(_synth_gif8(docs), grid_w=4, grid_h=4)


def _synth_jpeg32(docs):
    """32x32 grayscale baseline JPEG per doc: 16 block values (one per
    8x8 block, row-major) are the 16 bytes of ONE md5 digest of the
    text.  JPEG is lossy, but DC-only (block-constant) content with an
    all-ones quant table decodes EXACTLY (datapipe/jpeg.py module
    docstring), so the oracle replays the decoded pixels straight from
    the digest hex — the PNG driver-row recipe carried to a lossy
    codec.  restart_interval=2 keeps RST markers on the decode path."""
    import numpy as _np
    import pandas as _pd

    from pypond_spark.datapipe.jpeg import encode_jpeg

    raw = _spread(docs).select(F.col("doc_id").cast("long").alias("media_id"),
                      F.unhex(F.md5(F.concat(F.col("text"),
                                             F.lit("&j"))))
                      .alias("content"))

    def enc(batches):
        for pdf in batches:
            rows = []
            for mid, dig in zip(pdf["media_id"], pdf["content"]):
                vals = _np.frombuffer(bytes(dig),
                                      dtype=_np.uint8).reshape(4, 4)
                img = _np.repeat(_np.repeat(vals, 8, axis=0), 8, axis=1)
                rows.append((int(mid),
                             encode_jpeg(32, 32, img.tobytes(),
                                         gray=True, qtable=[1] * 64,
                                         restart_interval=2)))
            yield _pd.DataFrame(rows, columns=["media_id", "content"])

    return raw.mapInPandas(enc, "media_id long, content binary")


def q_image_phash_jpeg(spark, sf_dir):
    """Perceptual hashes over pixels decoded from REAL baseline JPEG
    bytes (datapipe/jpeg.py::decode_jpeg — marker parse, Huffman
    entropy decode with restart markers and byte unstuffing, dequant,
    numpy IDCT): same downstream aHash/dHash chain as ``image_phash``.
    The synthetic JPEG is block-constant with an all-ones quant table,
    the one regime where the lossy roundtrip is pixel-exact, so a
    driver-green row certifies the whole encode->entropy->IDCT path
    against an oracle that never runs the codec."""
    docs = _read(spark, sf_dir, "documents")
    jm = _cached_media(spark, sf_dir, "jpeg32", 1,
                       lambda: _synth_jpeg32(docs))
    return dp_mm.image_phash(jm, grid_w=4, grid_h=4)


def _synth_jpeg32_progressive(docs):
    """32x32 grayscale PROGRESSIVE (SOF2) JPEG per doc: the
    :func:`_synth_jpeg32` block-constant recipe (16 block values from
    one md5 digest, salt '&jp') encoded through
    ``jpeg.encode_jpeg_progressive`` — libjpeg's standard 6-scan
    gray script (DC first at Al=1, spectral bands, successive-
    approximation refinements) with restart markers, so the decode
    exercises every progressive scan kind while the DC-only regime
    keeps pixels EXACT and the oracle digest-replayable."""
    import numpy as _np
    import pandas as _pd

    from pypond_spark.datapipe.jpeg import encode_jpeg_progressive

    raw = _spread(docs).select(F.col("doc_id").cast("long").alias("media_id"),
                      F.unhex(F.md5(F.concat(F.col("text"),
                                             F.lit("&jp"))))
                      .alias("content"))

    def enc(batches):
        for pdf in batches:
            rows = []
            for mid, dig in zip(pdf["media_id"], pdf["content"]):
                vals = _np.frombuffer(bytes(dig),
                                      dtype=_np.uint8).reshape(4, 4)
                img = _np.repeat(_np.repeat(vals, 8, axis=0), 8, axis=1)
                rows.append((int(mid),
                             encode_jpeg_progressive(
                                 32, 32, img.tobytes(), gray=True,
                                 qtable=[1] * 64, restart_interval=2)))
            yield _pd.DataFrame(rows, columns=["media_id", "content"])

    return raw.mapInPandas(enc, "media_id long, content binary")


def q_image_phash_jpeg_progressive(spark, sf_dir):
    """Perceptual hashes over pixels decoded from REAL progressive
    (SOF2) JPEG bytes (datapipe/jpeg.py::_progressive_scan — spectral
    selection, successive approximation DC+AC first/refinement passes,
    EOB runs, restart markers): same downstream aHash/dHash chain as
    ``image_phash_jpeg``, same all-ones-quant DC-only exactness, so a
    driver-green row certifies the progressive entropy decode against
    an oracle that never runs the codec."""
    docs = _read(spark, sf_dir, "documents")
    jp = _cached_media(spark, sf_dir, "jpeg32_progressive", 1,
                       lambda: _synth_jpeg32_progressive(docs))
    return dp_mm.image_phash(jp, grid_w=4, grid_h=4)


def q_image_phash_jpeg_multiscan(spark, sf_dir):
    """Perceptual hashes over pixels decoded from a MULTI-SCAN
    sequential JPEG (datapipe/jpeg.py::_sequential_scan — r12: Y, Cb
    and Cr each in their OWN scan, the layout some hardware encoders
    emit, formerly a NotImplementedError): pixels are gray-valued RGB
    (r=g=b=block digest byte), for which the YCbCr transform is exact
    (Y=v, Cb=Cr=128 after the shared floor(x+0.5) rounding), so the
    all-ones-quant DC-only regime decodes pixel-exactly and the oracle
    replays the comparisons from the digest — gray = 3*v stays
    homogeneous."""
    import numpy as _np
    import pandas as _pd

    from pypond_spark.datapipe.jpeg import encode_jpeg_multiscan

    docs = _read(spark, sf_dir, "documents")
    raw = docs.select(F.col("doc_id").cast("long").alias("media_id"),
                      F.unhex(F.md5(F.concat(F.col("text"),
                                             F.lit("&jms"))))
                      .alias("content"))

    def enc(batches):
        for pdf in batches:
            rows = []
            for mid, dig in zip(pdf["media_id"], pdf["content"]):
                vals = _np.frombuffer(bytes(dig),
                                      dtype=_np.uint8).reshape(4, 4)
                img = _np.repeat(_np.repeat(vals, 8, 0), 8, 1)
                rgb = _np.repeat(img[..., None], 3, axis=2)
                rows.append((int(mid),
                             encode_jpeg_multiscan(
                                 32, 32, rgb.tobytes(),
                                 qtable=[1] * 64,
                                 restart_interval=2)))
            yield _pd.DataFrame(rows, columns=["media_id", "content"])

    ms = _cached_media(
        spark, sf_dir, "jpeg32_multiscan", 1,
        lambda: raw.mapInPandas(enc, "media_id long, content binary"))
    return dp_mm.image_phash(ms, grid_w=4, grid_h=4)


def q_image_phash_jpeg_lossless(spark, sf_dir):
    """Perceptual hashes over pixels decoded from a LOSSLESS (SOF3)
    JPEG (datapipe/jpeg.py::_lossless_scan — r12: Annex-H predictive
    Huffman coding, no DCT, no color transform): unlike the DC-only
    rows, lossless roundtrips ANY content bit-for-bit, so the
    synthetic image is the PPM row's FULL-ENTROPY chained-md5 pixels
    and the unchanged image_phash oracle replays them — with the
    predictor selector rotating 1..7 by doc_id so every Annex-H
    predictor is driver-verified."""
    import pandas as _pd

    from pypond_spark.datapipe.jpeg import encode_jpeg_lossless

    docs = _read(spark, sf_dir, "documents")
    ppm = _synth_ppm8(docs)

    def enc(batches):
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                px = bytes(content)[len(b"P6\n8 8\n255\n"):]
                rows.append((int(mid),
                             encode_jpeg_lossless(
                                 8, 8, px,
                                 predictor=1 + int(mid) % 7,
                                 restart_interval=3)))
            yield _pd.DataFrame(rows, columns=["media_id", "content"])

    # v2: the r13 T.81 H.1.1 restart-rule fix changed the encoder's
    # emitted stream bytes (decoded pixels are unchanged)
    ll = _cached_media(
        spark, sf_dir, "jpeg32_lossless", 2,
        lambda: ppm.mapInPandas(enc, "media_id long, content binary"))
    return dp_mm.image_phash(ll, grid_w=4, grid_h=4)


def _synth_pdf(docs):
    """Deterministic REAL PDF per doc (datapipe/pdf.py::encode_pdf —
    externally-valid PDF 1.4, classic xref): 1 + doc_id%3 pages of
    2 + doc_id%3 lines, line l of page p = md5(text||'&p'||p||'&l'||l)
    (32 hex chars — every character oracle-replayable in SQL); the
    writer rotates the stream filter (raw / FlateDecode / LZWDecode
    by (doc_id//3)%3), the show-string form (literal / hex /
    split-TJ by doc_id%3), and Form-XObject indirection (the page
    content is just /Fm0 Do when doc_id%5 == 0 — the template-
    renderer layout) so every encode path feeds the extractor under
    driver verification."""
    import hashlib as _hl

    import pandas as _pd

    from pypond_spark.datapipe.pdf import encode_pdf

    def enc(batches):
        for pdf_ in batches:
            rows = []
            for did, text in zip(pdf_["doc_id"], pdf_["text"]):
                did = int(did)
                pages = ["\n".join(
                    _hl.md5(f"{text}&p{p}&l{li}".encode("utf-8"))
                    .hexdigest() for li in range(2 + did % 3))
                    for p in range(1 + did % 3)]
                rows.append((did, encode_pdf(
                    pages,
                    compress=(False, True, "lzw")[(did // 3) % 3],
                    string_form=("literal", "hex", "tj")[did % 3],
                    title=_hl.md5(f"{text}&ti".encode("utf-8"))
                    .hexdigest(),
                    author=f"author-{did % 5}",
                    via_form=did % 5 == 0)))
            yield _pd.DataFrame(rows, columns=["doc_id", "content"])

    return (_spread(docs).select(F.col("doc_id").cast("long").alias("doc_id"),
                        "text")
            .mapInPandas(enc, "doc_id long, content binary"))


def q_pdf_info(spark, sf_dir):
    """Header-only PDF metadata triage (datapipe/pdf.py::
    extract_pdf_info — the /Info dictionary + pages-walk count, the
    100-TB pre-filter that never decodes a content stream): title is
    an md5 recipe, author rotates doc_id%5, and the page count comes
    from the real pages tree, so the oracle is closed-form."""
    from pypond_spark.datapipe.pdf import extract_pdf_info

    docs = _read(spark, sf_dir, "documents")
    return (extract_pdf_info(_synth_pdf(docs))
            .select("doc_id", "title", "author", "n_pages"))


def q_pdf_text_extract(spark, sf_dir):
    """PDF text extraction (datapipe/pdf.py::extract_pdf_text — the
    r13 extraction-tier addition: brute object scan, FlateDecode via
    zlib, content-stream Tj/TJ/'/" interpretation, per-page
    assembly): one row per page of the synthesized corpus; the
    oracle rebuilds the exact page text from the same md5 recipe, so
    a green row proves the FULL encode->parse->interpret->assemble
    chain character-exact across raw + Flate streams and all three
    show-string forms."""
    from pypond_spark.datapipe.pdf import extract_pdf_text

    docs = _read(spark, sf_dir, "documents")
    return extract_pdf_text(_synth_pdf(docs))


def _synth_tar(docs):
    """Deterministic WebDataset-style tar shard per doc
    (datapipe/tarshard.py::encode_tar_shard — ustar, zeroed
    metadata): 1 + doc_id%3 samples, each with a ``txt`` member
    (md5(text||'&t'||s)), a ``json`` member ({"k":"md5(...&j...)"}),
    and a ``cls`` member only when (doc_id+s)%2 == 0 — so pairing
    must cope with ragged samples; odd doc_ids gzip the shard so the
    r:* auto-detect path is driver-verified too."""
    import pandas as _pd

    from pypond_spark.datapipe.tarshard import encode_tar_shard

    def enc(batches):
        import hashlib as _hl
        for pdf_ in batches:
            rows = []
            for did, text in zip(pdf_["doc_id"], pdf_["text"]):
                did = int(did)
                samples = []
                for s in range(1 + did % 3):
                    parts = {
                        "txt": _hl.md5(f"{text}&t{s}".encode("utf-8"))
                        .hexdigest().encode(),
                        "json": (b'{"k":"' + _hl.md5(
                            f"{text}&j{s}".encode("utf-8"))
                            .hexdigest().encode() + b'"}'),
                    }
                    if (did + s) % 2 == 0:
                        parts["cls"] = str((did + s) % 10).encode()
                    samples.append((f"{did}-{s}", parts))
                rows.append((did, encode_tar_shard(
                    samples, gzip_level=6 if did % 2 else None)))
            yield _pd.DataFrame(rows, columns=["shard_id", "content"])

    return (_spread(docs).select(F.col("doc_id").cast("long").alias("doc_id"),
                        "text")
            .mapInPandas(enc, "shard_id long, content binary"))


def q_tar_shard_ingest(spark, sf_dir):
    """Tar-shard member ingest (datapipe/tarshard.py::
    read_tar_members — r13): every member of the synthesized shards
    back as (shard, key, ext, size, content) rows; the oracle
    rebuilds all three member kinds from the same md5 recipe, so a
    green row proves tar framing, key/ext splitting, gzip
    auto-detection, and byte fidelity end-to-end."""
    from pypond_spark.datapipe.tarshard import read_tar_members

    docs = _read(spark, sf_dir, "documents")
    return (read_tar_members(_synth_tar(docs))
            .select(F.col("shard_id").alias("doc_id"), "sample_key",
                    "ext", "n_bytes",
                    F.col("data").cast("string").alias("content")))


def q_tar_sample_pairing(spark, sf_dir):
    """WebDataset sample pairing (datapipe/tarshard.py::
    read_tar_samples — r13): adjacent members group into one sample
    row WITHOUT a shuffle (per-shard run detection); ragged
    samples (the rotating cls member) keep their true part counts
    and the txt payload rides the map intact."""
    from pypond_spark.datapipe.tarshard import read_tar_samples

    docs = _read(spark, sf_dir, "documents")
    return (read_tar_samples(_synth_tar(docs))
            .select(F.col("shard_id").alias("doc_id"), "sample_key",
                    "n_parts",
                    F.col("parts")["txt"].cast("string").alias("txt"),
                    F.map_contains_key(F.col("parts"), F.lit("cls"))
                    .alias("has_cls")))


def q_tar_multimodal_pipeline(spark, sf_dir):
    """End-to-end WebDataset multimodal ingest (the actual use case
    of the tar tier): each doc's shard holds a PAIRED sample — a
    REAL PNG member (the _synth_ppm8 chained-md5 pixels through
    encode_png) plus a txt caption member — read_tar_samples pairs
    the adjacent members without a shuffle, the png part feeds the
    standard decode->phash chain, and the caption rides alongside;
    the oracle is the unchanged image_phash replay joined with the
    caption recipe.  Green = tar framing + pairing + PNG decode +
    phash all compose, the full image-caption training-data path."""
    import hashlib as _hl

    import pandas as _pd

    from pypond_spark.datapipe.multimodal import encode_png
    from pypond_spark.datapipe.tarshard import (encode_tar_shard,
                                                read_tar_samples)

    docs = _read(spark, sf_dir, "documents")
    ppm = _synth_ppm8(docs).join(
        docs.select(F.col("doc_id").cast("long").alias("media_id"),
                    "text"), "media_id")

    def enc(batches):
        for pdf_ in batches:
            rows = []
            for mid, content, text in zip(pdf_["media_id"],
                                          pdf_["content"],
                                          pdf_["text"]):
                mid = int(mid)
                px = bytes(content)[len(b"P6\n8 8\n255\n"):]
                parts = {
                    "png": encode_png(8, 8, px),
                    "txt": _hl.md5(f"{text}&wt".encode("utf-8"))
                    .hexdigest().encode(),
                }
                rows.append((mid, encode_tar_shard(
                    [(f"{mid:08d}", parts)])))
            yield _pd.DataFrame(rows, columns=["shard_id", "content"])

    shards = ppm.mapInPandas(enc, "shard_id long, content binary")
    samples = (read_tar_samples(shards)
               .select(F.col("shard_id").alias("media_id"),
                       F.col("parts")["png"].alias("content"),
                       F.col("parts")["txt"].cast("string")
                       .alias("txt")))
    return dp_mm.image_phash(samples, grid_w=4, grid_h=4,
                             extra_cols=("txt",))


def q_pdf_page_stats(spark, sf_dir):
    """Composition over real PDF extraction (the extract_content
    pattern): per-document page/char/line counts computed FROM the
    extracted text — the oracle derives them closed-form from the
    synthesis recipe (n_pages = 1+doc_id%3, n_lines = 2+doc_id%3,
    32-char lines joined by newline), so any extraction drift
    (missed page, dropped line, stray whitespace) breaks the row."""
    from pypond_spark.datapipe.pdf import extract_pdf_text

    docs = _read(spark, sf_dir, "documents")
    ex = extract_pdf_text(_synth_pdf(docs))
    return (ex.groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_pages"),
                 F.sum(F.length("text")).cast("long").alias("n_chars"),
                 F.sum(F.size(F.split("text", "\n", -1)))
                 .cast("long").alias("n_lines")))


def q_zip_sample_pairing(spark, sf_dir):
    """Zip-shard sample pairing (datapipe/tarshard.py::
    read_zip_samples — the zip twin of tar_sample_pairing, same
    per-shard adjacent-member pairing, same oracle): ragged samples
    keep their part counts and the txt payload rides the map."""
    from pypond_spark.datapipe.tarshard import read_zip_samples

    docs = _read(spark, sf_dir, "documents")
    zs = _cached_media(spark, sf_dir, "zipshard", 1,
                       lambda: _synth_zipshard(docs))
    return (read_zip_samples(zs, id_col="shard_id")
            .select(F.col("shard_id").alias("doc_id"), "sample_key",
                    "n_parts",
                    F.col("parts")["txt"].cast("string").alias("txt"),
                    F.map_contains_key(F.col("parts"), F.lit("cls"))
                    .alias("has_cls")))


def q_pdf_triage(spark, sf_dir):
    """Encrypted-PDF triage (datapipe/pdf.py::pdf_info — r14: the
    /Encrypt flag path that counts pages from the plaintext document
    structure instead of raising): docs with doc_id%4 == 0 are
    synthesized with a standard-security-handler /Encrypt dictionary;
    their title reports NULL (strings would be ciphertext in a real
    file) while n_pages still counts — the cheap flag-don't-except
    stat a real corpus wants before routing to a decryption tier."""
    from pypond_spark.datapipe.pdf import (encode_pdf,
                                           extract_pdf_info)
    import hashlib as _hl

    import pandas as _pd

    docs = _read(spark, sf_dir, "documents")

    def enc(batches):
        for pdf_ in batches:
            rows = []
            for did, text in zip(pdf_["doc_id"], pdf_["text"]):
                did = int(did)
                pages = ["x"] * (1 + did % 3)
                rows.append((did, encode_pdf(
                    pages,
                    title=_hl.md5(f"{text}&ti".encode("utf-8"))
                    .hexdigest(),
                    encrypt=did % 4 == 0)))
            yield _pd.DataFrame(rows, columns=["doc_id", "content"])

    pdfs = _cached_media(
        spark, sf_dir, "pdf_triage", 1,
        lambda: docs.select(
            F.col("doc_id").cast("long").alias("doc_id"), "text")
        .mapInPandas(enc, "doc_id long, content binary"))
    return (extract_pdf_info(pdfs)
            .select("doc_id", "encrypted", "title", "n_pages"))


def q_audio_id3_tags(spark, sf_dir):
    """ID3v2 tag triage (datapipe/id3.py — r14: the header-only MP3
    metadata tier beside pdf_info and sniff_audio_meta): versions
    2.2/2.3/2.4 rotate by doc_id%3, text encodings latin1/utf16
    (+utf8 on 2.4) rotate within each version, a fake MPEG frame
    follows the tag so the syncsafe size walk is what finds the
    frames; title/artist/album/length are md5/closed-form recipes."""
    from pypond_spark.datapipe.id3 import encode_id3v2, audio_id3_tags
    import hashlib as _hl

    import pandas as _pd

    docs = _read(spark, sf_dir, "documents")

    def enc(batches):
        for pdf_ in batches:
            rows = []
            for did, text in zip(pdf_["doc_id"], pdf_["text"]):
                did = int(did)
                version = 2 + did % 3
                encs = ("latin1", "utf16", "utf8") if version == 4 \
                    else ("latin1", "utf16")
                tag = encode_id3v2(
                    {"title": _hl.md5(f"{text}&it".encode("utf-8"))
                     .hexdigest(),
                     "artist": f"artist-{did % 7}",
                     "album": _hl.md5(f"{text}&ia".encode("utf-8"))
                     .hexdigest()[:16],
                     "length_ms": 1000 + did % 977},
                    version=version,
                    encoding=encs[(did // 3) % len(encs)],
                    padding=did % 5)
                rows.append((did, tag + b"\xff\xfb\x90\x00" + b"\x55" * 32))
            yield _pd.DataFrame(rows, columns=["doc_id", "content"])

    blobs = _cached_media(
        spark, sf_dir, "id3", 1,
        lambda: docs.select(
            F.col("doc_id").cast("long").alias("doc_id"), "text")
        .mapInPandas(enc, "doc_id long, content binary"))
    return audio_id3_tags(blobs)


def q_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-k retrieval (datapipe/retrieval.py::bm25_topk —
    r14: vocab-restricted postings, one doc_id exchange shared by the
    tf and score aggregations, driver-coordinated idf literals, one
    top-k window): every 20th document's first 3 normalized tokens
    form a query; the oracle replays tokenization, df/idf, the exact
    tf-normalization expression shape, round-6 scores and the doc-id
    tiebreak rank."""
    from pypond_spark.datapipe.retrieval import bm25_topk

    docs = _read(spark, sf_dir, "documents")
    queries = (docs.where(F.col("doc_id") % 20 == 0)
               .select(F.col("doc_id").cast("long").alias("query_id"),
                       F.concat_ws(" ", F.slice(F.filter(
                           dp_text._match_tokens("text"),
                           lambda t: t != F.lit("")), 1, 3))
                       .alias("query")))
    return bm25_topk(
        docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                    "text"),
        queries, k=10)


def q_hard_negatives_bm25(spark, sf_dir):
    """Lexical hard-negative mining (datapipe/retrieval.py::
    hard_negatives_bm25 — the BM25 twin of the embedding-based
    hard_negatives row): anchors are every 20th doc, negatives are
    the 5 highest-BM25 docs with a DIFFERENT lang; self-pairs and
    same-label pairs never rank."""
    from pypond_spark.datapipe.retrieval import hard_negatives_bm25

    docs = _read(spark, sf_dir, "documents")
    return hard_negatives_bm25(
        docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                    "text", "lang"), k=5)


def q_decontam_retrieval(spark, sf_dir):
    """Decontamination-by-retrieval (datapipe/retrieval.py::
    decontam_retrieval — the ranked lexical variant beside the n-gram
    decontam rows): every 20th doc's first-3-token query stands in
    for an eval item; training docs ranking top-10 with bm25 >= 1.0
    are flagged with their hit count and strongest query.  The
    oracle wraps the bm25_topk replay with the same threshold,
    grouping and strongest-hit tiebreak."""
    from pypond_spark.datapipe.retrieval import decontam_retrieval

    docs = _read(spark, sf_dir, "documents")
    queries = (docs.where(F.col("doc_id") % 20 == 0)
               .select(F.col("doc_id").cast("long").alias("query_id"),
                       F.concat_ws(" ", F.slice(F.filter(
                           dp_text._match_tokens("text"),
                           lambda t: t != F.lit("")), 1, 3))
                       .alias("query")))
    return decontam_retrieval(
        docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                    "text"),
        queries, k=10, min_score=1.0)


def _synth_docx(docs):
    """Deterministic REAL DOCX per doc (datapipe/zipdoc.py::
    encode_docx — minimal OPC zip: [Content_Types].xml, _rels/.rels,
    word/document.xml): base paragraphs p in 0..1+doc_id%3 with text
    md5(text||'&dx'||p); doc_id%4==0 appends a TAB-carrying paragraph
    md5(..&tab) TAB md5(..&tab2) (w:tab run); doc_id%4==1 appends a
    line-break paragraph md5(..&br) NL md5(..&br2) (w:br run);
    doc_id%5==0 appends a one-row TABLE with cell paragraphs
    md5(..&tc0) / md5(..&tc1) — so plain runs, tabs, breaks and
    table-cell paragraphs are all under driver verification."""
    import hashlib as _hl

    import pandas as _pd

    from pypond_spark.datapipe.zipdoc import encode_docx

    def enc(batches):
        for pdf_ in batches:
            rows = []
            for did, text in zip(pdf_["doc_id"], pdf_["text"]):
                did = int(did)

                def h(tag):
                    return _hl.md5(f"{text}&{tag}".encode("utf-8")) \
                        .hexdigest()

                paras = [h(f"dx{p}") for p in range(2 + did % 3)]
                if did % 4 == 0:
                    paras.append(h("tab") + "\t" + h("tab2"))
                elif did % 4 == 1:
                    paras.append(h("br") + "\n" + h("br2"))
                cells = ([h("tc0"), h("tc1")] if did % 5 == 0
                         else None)
                rows.append((did, encode_docx(paras,
                                              table_cells=cells)))
            yield _pd.DataFrame(rows, columns=["doc_id", "content"])

    return (_spread(docs).select(F.col("doc_id").cast("long").alias("doc_id"),
                        "text")
            .mapInPandas(enc, "doc_id long, content binary"))


def q_docx_text_extract(spark, sf_dir):
    """DOCX text extraction (datapipe/zipdoc.py::extract_docx_text —
    the r14 ZIP-container extraction tier: OPC zip -> word/
    document.xml -> w:p/w:r/w:t walk with w:tab/w:br mapping and
    table-cell paragraphs in document order): one row per document;
    the oracle rebuilds the exact paragraph text from the same md5
    recipe, so a green row proves the FULL encode->unzip->XML->
    assemble chain character-exact."""
    from pypond_spark.datapipe.zipdoc import extract_docx_text

    docs = _read(spark, sf_dir, "documents")
    dx = _cached_media(spark, sf_dir, "docx", 1,
                       lambda: _synth_docx(docs))
    return extract_docx_text(dx)


def q_docx_quality_pipeline(spark, sf_dir):
    """Composition row: REAL DOCX bytes -> text extraction -> the
    Gopher quality rules (Rae et al. 2021 §A1.1) — the actual
    corpus-build path where extracted documents feed quality
    filtering directly.  The oracle replays the extraction recipe
    into a CTE and applies the same metric SQL the standing
    gopher_quality row uses, so extraction drift OR metric drift
    breaks the row."""
    docs = _read(spark, sf_dir, "documents")
    ex = q_docx_text_extract(spark, sf_dir).drop("n_paragraphs")
    return dp_text.gopher_quality(ex)


def _synth_odt(docs):
    """Deterministic REAL ODT per doc (datapipe/zipdoc.py::
    encode_odt — ODF package, STORED mimetype first, content.xml):
    a text:h heading md5(text||'&oh'), paragraphs p in 0..1+doc_id%3
    with text md5(text||'&op'||p), then a rotating structural extra:
    doc_id%4==0 a double-space paragraph (the ODF text:s
    whitespace-compression rule), ==1 a text:tab paragraph, ==2 a
    text:line-break paragraph."""
    import hashlib as _hl

    import pandas as _pd

    from pypond_spark.datapipe.zipdoc import encode_odt

    def enc(batches):
        for pdf_ in batches:
            rows = []
            for did, text in zip(pdf_["doc_id"], pdf_["text"]):
                did = int(did)

                def h(tag):
                    return _hl.md5(f"{text}&{tag}".encode("utf-8")) \
                        .hexdigest()

                paras = [h(f"op{p}") for p in range(2 + did % 3)]
                if did % 4 == 0:
                    paras.append(h("os1") + "  " + h("os2"))
                elif did % 4 == 1:
                    paras.append(h("ot1") + "\t" + h("ot2"))
                elif did % 4 == 2:
                    paras.append(h("ob1") + "\n" + h("ob2"))
                rows.append((did, encode_odt(paras,
                                             heading=h("oh"))))
            yield _pd.DataFrame(rows, columns=["doc_id", "content"])

    return (_spread(docs).select(F.col("doc_id").cast("long").alias("doc_id"),
                        "text")
            .mapInPandas(enc, "doc_id long, content binary"))


def q_odt_text_extract(spark, sf_dir):
    """ODT text extraction (datapipe/zipdoc.py::extract_odt_text —
    the third leg of the r14 zip-document family: ODF content.xml
    text:p/text:h walk with text:tab / text:line-break / text:s
    whitespace expansion): one row per document against the md5
    recipe oracle."""
    from pypond_spark.datapipe.zipdoc import extract_odt_text

    docs = _read(spark, sf_dir, "documents")
    od = _cached_media(spark, sf_dir, "odt", 1,
                       lambda: _synth_odt(docs))
    return extract_odt_text(od)


def q_feed_entries(spark, sf_dir):
    """RSS/Atom feed extraction (feeds.py::feed_entries — r14, the
    news-discovery slice): doc_id%3 synthesizes an RSS 2.0 channel
    with two items (one full, one sparse), an Atom feed with two
    entries (link as ATTRIBUTE — the _href parser spelling), or
    non-feed junk (zero rows).  Spark parses with the built-in
    from_xml under BOTH schemas and the materialized entry array
    wins; the oracle rebuilds every normalized entry symbolically."""
    docs = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 3

    def h(tag):
        return F.md5(F.concat(F.col("text"), F.lit(tag)))

    rss = F.concat(
        F.lit('<rss version="2.0"><channel><title>F '), h("&ft"),
        F.lit('</title><link>http://ex.com</link>'
              '<item><title>t1 '), h("&f1"),
        F.lit('</title><link>http://ex.com/1</link>'
              '<pubDate>Mon, 01 Jan 2024 00:00:00 GMT</pubDate>'
              '<guid>g '), h("&f2"),
        F.lit('</guid><description>d '), h("&f3"),
        F.lit('</description></item><item><title>t2 '), h("&f4"),
        F.lit('</title><link>http://ex.com/2</link></item>'
              '</channel></rss>'))
    atom = F.concat(
        F.lit('<feed xmlns="http://www.w3.org/2005/Atom">'
              '<title>AF '), h("&ft"),
        F.lit('</title><entry><title>e1 '), h("&f1"),
        F.lit('</title><link href="http://a.com/1"/>'
              '<updated>2024-01-01T00:00:00Z</updated><id>i '),
        h("&f2"),
        F.lit('</id><summary>s '), h("&f3"),
        F.lit('</summary></entry><entry><title>e2 '), h("&f4"),
        F.lit('</title><link href="http://a.com/2"/></entry>'
              '</feed>'))
    blob = (F.when(m == 0, rss).when(m == 1, atom)
            .otherwise(F.concat(F.lit("not a feed "), h("&fj"))))
    out = dp_feeds.feed_entries(
        docs.select("doc_id", blob.alias("content")))
    return out.select("doc_id", "feed_type", "feed_title",
                      "entry_idx", "title", "link", "published",
                      "entry_id", "summary")


def q_sitemap_urls(spark, sf_dir):
    """Sitemap parsing (feeds.py::sitemap_urls — r14, the
    crawl-frontier seed surface): doc_id%3 synthesizes a urlset
    with two entries (one carrying lastmod/changefreq/priority, one
    loc-only), a sitemapindex with two shard locs, or junk (zero
    rows); from_xml under both sitemaps.org schemas, materialized
    array wins.  Oracle rebuilds every entry symbolically."""
    docs = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 3

    def h(tag):
        return F.md5(F.concat(F.col("text"), F.lit(tag)))

    urlset = F.concat(
        F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/'
              'sitemap/0.9"><url><loc>http://ex.com/p/'), h("&s1"),
        F.lit('</loc><lastmod>2024-02-03</lastmod>'
              '<changefreq>daily</changefreq>'
              '<priority>0.8</priority></url>'
              '<url><loc>http://ex.com/p/'), h("&s2"),
        F.lit('</loc></url></urlset>'))
    index = F.concat(
        F.lit('<sitemapindex><sitemap><loc>http://ex.com/sm/'),
        h("&s1"),
        F.lit('.xml</loc><lastmod>2024-01-02</lastmod></sitemap>'
              '<sitemap><loc>http://ex.com/sm/'), h("&s2"),
        F.lit('.xml</loc></sitemap></sitemapindex>'))
    blob = (F.when(m == 0, urlset).when(m == 1, index)
            .otherwise(F.concat(F.lit("no sitemap "), h("&sj"))))
    out = dp_feeds.sitemap_urls(
        docs.select("doc_id", blob.alias("content")))
    return out.select("doc_id", "kind", "entry_idx", "loc",
                      "lastmod", "changefreq", "priority")


def q_subtitle_cues(spark, sf_dir):
    """SRT/WebVTT cue extraction (subtitles.py::subtitle_cues —
    r14, the video-transcript slice): doc_id%3 synthesizes an SRT
    with two numbered cues (multi-line text, comma millis,
    doc-varying seconds via lpad), a WebVTT with header + NOTE
    block + cue ids + settings + inline <v>/<i> tags + the no-hours
    timestamp form, or junk (zero rows).  One scan, zero Python;
    the oracle rebuilds every cue — integer millis included —
    symbolically."""
    docs = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 3
    ss = F.lpad((F.col("doc_id") % 50).cast("string"), 2, "0")
    tt = F.lpad((F.col("doc_id") % 50 + 5).cast("string"), 2, "0")

    def h(tag):
        return F.md5(F.concat(F.col("text"), F.lit(tag)))

    srt = F.concat(
        F.lit("1\n00:01:"), ss, F.lit(",250 --> 00:01:"), tt,
        F.lit(",750\ncue a "), h("&v1"), F.lit("\nline2 "),
        h("&v2"),
        F.lit("\n\n2\n10:00:00,000 --> 10:00:02,000\ncue b "),
        h("&v3"), F.lit("\n"))
    vtt = F.concat(
        F.lit("WEBVTT\n\nNOTE meta "), h("&v0"),
        F.lit("\n\nid1\n01:"), ss, F.lit(".100 --> 01:"), tt,
        F.lit(".900 align:start\n<v Bob>va "), h("&v4"),
        F.lit("</v>\n\nstray\n00:00:07.000 --> 00:00:09.000\n"
              "<i>vb "), h("&v5"), F.lit("</i> tail\n"))
    blob = (F.when(m == 0, srt).when(m == 1, vtt)
            .otherwise(F.concat(F.lit("no cues "), h("&vj"))))
    out = dp_subs.subtitle_cues(
        docs.select("doc_id", blob.alias("content")))
    return out.select("doc_id", "fmt", "cue_idx", "start_ms",
                      "end_ms", F.md5("text").alias("text_digest"),
                      F.length("text").alias("n_chars"))


def q_image_exif(spark, sf_dir):
    """Full EXIF triage (multimodal.py::image_exif — r14, the
    photo-metadata slice beyond the r11 orientation-only row): per
    doc a JPEG carrying a REAL APP1 Exif payload (little-endian
    TIFF, IFD0 make/model/orientation/datetime + Exif subIFD
    exposure/ISO/focal rationals via the writer twin
    encode_app1_exif), read back header-only through the shared
    TIFF IFD reader.  Rationals divide to IEEE doubles identically
    in both engines, so the oracle is exact."""
    docs = _read(spark, sf_dir, "documents")

    def synth(batches):
        import hashlib as _hl

        import pandas as _pd

        from pypond_spark.datapipe.multimodal import encode_app1_exif
        for pdf_ in batches:
            rows = []
            for did, text in zip(pdf_["doc_id"], pdf_["text"]):
                did = int(did)
                mk = "Cam " + _hl.md5(
                    f"{text}&ex".encode()).hexdigest()
                app1 = encode_app1_exif(
                    mk, f"M{did % 5}", did % 8 + 1,
                    "2024:01:02 03:04:05",
                    exposure=(1, 50 + did % 200),
                    iso=100 + (did % 16) * 25,
                    focal=(did % 90 + 10, 2))
                rows.append((did, b"\xFF\xD8" + app1 + b"\xFF\xD9"))
            yield _pd.DataFrame(rows, columns=["media_id",
                                               "content"])

    media = docs.select("doc_id", "text").mapInPandas(
        synth, "media_id long, content binary")
    return dp_mm.image_exif(media)


def q_bucketed_join(spark, sf_dir):
    """Bucketed co-located join (datapipe/io.py::write_bucketed /
    bucketed_join — r14, the pay-the-shuffle-once storage answer
    for 100-TB repeated joins): customer and orders are written as
    8-bucket one-file-per-bucket sorted tables on custkey, then
    joined — the executed join is a SortMergeJoin with ZERO
    exchanges and ZERO sorts (asserted in the test suite; the one
    exchange in this row's plan is the downstream per-segment
    rollup, not the join).  Revenue sums ride DECIMAL(18,2) so both
    engines add exactly."""
    import tempfile

    from pypond_spark.datapipe.io import bucketed_join, write_bucketed

    tag = os.path.basename(os.path.normpath(sf_dir)) \
        .replace(".", "_")
    root = os.path.join(tempfile.gettempdir(), "pypond_buckets", tag)
    cust = _read(spark, sf_dir, "customer") \
        .select("c_custkey", "c_mktsegment")
    orders = _read(spark, sf_dir, "orders") \
        .select(F.col("o_custkey").alias("c_custkey"),
                "o_totalprice")
    write_bucketed(cust, f"bk_cust_{tag}", "c_custkey", 8,
                   path=os.path.join(root, "cust"))
    write_bucketed(orders, f"bk_ord_{tag}", "c_custkey", 8,
                   path=os.path.join(root, "ord"))
    j = bucketed_join(spark, f"bk_cust_{tag}", f"bk_ord_{tag}",
                      "c_custkey")
    return (j.groupBy("c_mktsegment")
            .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                 .cast("double").alias("revenue"),
                 F.count("*").alias("n_orders")))


def q_code_corpus_pipeline(spark, sf_dir):
    """End-to-end code-corpus composition (r14 — the The-Stack
    recipe from raw files to a training set summary): per doc a
    license header (doc_id%10, the license_detect scaffold) + a code
    body (shebang, comments, a conditional @generated marker on
    doc_id%7==0, doc text tail), then license_detect -> keep
    permissive only, code_stats -> drop generated files, and a
    per-license rollup of exact integer counters.  Every stage is an
    already-verified operator; the oracle replays the whole chain —
    detection CASE, list reductions, filters, GROUP BY — over the
    same composed text."""
    docs = _read(spark, sf_dir, "documents")
    mm = F.col("doc_id") % 10

    def h(tag):
        return F.md5(F.concat(F.col("text"), F.lit(tag)))

    hdr = (F.when(mm == 0, "SPDX-License-Identifier: MIT\n")
           .when(mm == 1,
                 "SPDX-License-Identifier: GPL-3.0-only\n")
           .when(mm == 2, "Apache License\n   Version 2.0\n")
           .when(mm == 3, "MIT License\n")
           .when(mm == 4, "GNU General Public License\n")
           .when(mm == 5, "Mozilla Public License\n")
           .when(mm == 6,
                 "Redistribution and use in source and binary "
                 "forms\n")
           .when(mm == 7,
                 "This is free and unencumbered software\n")
           .when(mm == 8, "GNU Lesser General Public License\n")
           .otherwise(""))
    marker = F.when(F.col("doc_id") % 7 == 0,
                    F.lit(" @generated")).otherwise(F.lit(""))
    body = F.concat(
        hdr, F.lit("#!/usr/bin/env python\n# mod "), h("&cp1"),
        marker, F.lit("\nx = 1\n// note "), h("&cp2"),
        F.lit("\ntail "), F.col("text"))
    wrapped = docs.select("doc_id", body.alias("text"))
    staged = dp_code.code_stats(dp_code.license_detect(wrapped))
    kept = staged.where(
        F.coalesce("permissive", F.lit(False))
        & ~F.col("has_autogen"))
    return (kept.groupBy("license")
            .agg(F.count("*").alias("n_files"),
                 F.sum("n_lines").alias("total_lines"),
                 F.sum("n_comment_lines").alias("total_comments"),
                 F.sum("n_blob_runs").alias("total_blobs")))


def q_csv_table_extract(spark, sf_dir):
    """Embedded CSV table extraction (tables.py::csv_rows — r14,
    the tabular-attachment slice): per doc a 4-line CSV with
    header, RFC 4180 quoting (embedded comma, doubled quotes), a
    blank line, and a record with a type error (PERMISSIVE -> that
    field NULL, never an exception); parsed by the built-in
    from_csv (JVM Univocity).  The oracle rebuilds every decoded
    record symbolically."""
    docs = _read(spark, sf_dir, "documents")

    def h(tag):
        return F.md5(F.concat(F.col("text"), F.lit(tag)))

    blob = F.concat(
        F.lit("name,qty,price,note\nr0,"),
        (F.col("doc_id") % 100).cast("string"),
        F.lit(',1.5,"h, '), h("&t1"),
        F.lit('"\nr1,7,2.25,"a ""'), h("&t2"),
        F.lit('"" z"\n\nbad,NOT_INT,0.5,plain\n'))
    out = dp_tables.csv_rows(
        docs.select("doc_id", blob.alias("content")),
        "name string, qty int, price double, note string")
    return out.select("doc_id", "row_idx", "name", "qty", "price",
                      "note")


def q_document_router_text(spark, sf_dir):
    """Text-format routing branches of route_document (r14 — the
    UTF-8 tail of the magic-byte dispatcher): doc_id%4 synthesizes
    LaTeX (\\documentclass preamble), a notebook JSON (nbformat +
    cells), markdown (ATX heading + fence), and plain prose; the
    router must LABEL each by content and return the raw text
    verbatim (stripping is the downstream scan stage).  The oracle
    rebuilds label + bytes symbolically."""
    from pypond_spark.datapipe.document import extract_documents

    docs = _read(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4

    def h(tag):
        return F.md5(F.concat(F.col("text"), F.lit(tag)))

    blob = (F.when(m == 0, F.concat(
                F.lit("\\documentclass{article}\n"
                      "\\begin{document}\nbody "), h("&rt0"),
                F.lit("\n\\end{document}")))
            .when(m == 1, F.concat(
                F.lit('{"cells":[{"cell_type":"raw","source":'
                      '"src '), h("&rt1"),
                F.lit('"}],"nbformat":4}')))
            .when(m == 2, F.concat(
                F.lit("# Title "), h("&rt2"),
                F.lit("\n\n```py\nx\n```\nbody")))
            .otherwise(F.concat(F.lit("plain prose "), h("&rt3"))))
    routed = extract_documents(docs.select(
        "doc_id", F.encode(blob, "utf-8").alias("content")))
    return routed.select("doc_id", "format",
                         F.md5("text").alias("text_digest"),
                         "n_units")


def q_document_router(spark, sf_dir):
    """Mixed-format document routing (datapipe/document.py::
    extract_documents — r14, the front door of the extraction tier):
    each doc synthesizes as a DIFFERENT format by doc_id%7 — real
    PDF / DOCX / EPUB / ODT / RTF bytes (the tier's own writers),
    raw HTML, plain text — plus undecodable binary junk, and the
    router must label and extract every one by CONTENT sniffing
    alone.  Green = all seven dispatch paths and the junk-tolerance
    contract verified in one row."""
    from pypond_spark.datapipe.document import extract_documents

    docs = _read(spark, sf_dir, "documents")

    def enc(batches):
        import hashlib as _hl

        import pandas as _pd

        from pypond_spark.datapipe.pdf import encode_pdf
        from pypond_spark.datapipe.rtf import encode_rtf
        from pypond_spark.datapipe.zipdoc import (encode_docx,
                                                  encode_epub,
                                                  encode_odt)
        for pdf_ in batches:
            rows = []
            for did, text in zip(pdf_["doc_id"], pdf_["text"]):
                did = int(did)

                def h(tag):
                    return _hl.md5(f"{text}&{tag}".encode("utf-8")) \
                        .hexdigest()

                k = did % 7
                if k == 0:
                    blob = encode_pdf([h("dr")])
                elif k == 1:
                    blob = encode_docx([h("dr")])
                elif k == 2:
                    blob = encode_epub([(h("drt"), [h("drp")])])
                elif k == 3:
                    blob = encode_odt([h("dr")])
                elif k == 4:
                    blob = encode_rtf([h("dr")])
                elif k == 5:
                    blob = (f"<html><body>{h('dr')}</body></html>"
                            .encode())
                else:
                    blob = b"\x00\xff\xfe" + h("dr").encode()
                rows.append((did, blob))
            yield _pd.DataFrame(rows, columns=["doc_id", "content"])

    blobs = _cached_media(
        spark, sf_dir, "docroute", 1,
        lambda: docs.select(
            F.col("doc_id").cast("long").alias("doc_id"), "text")
        .mapInPandas(enc, "doc_id long, content binary"))
    return extract_documents(blobs)


def _synth_rtf(docs):
    """Deterministic REAL RTF per doc (datapipe/rtf.py::encode_rtf —
    cp1252 + \\uN escapes, uc1 fallback, font/color/info/ignorable
    chrome groups that must strip to nothing): paragraphs p in
    0..1+doc_id%3 with text md5(text||'&rp'||p), then a rotating
    structural extra by doc_id%4: a \\tab paragraph, a \\line
    paragraph, an e-acute (\\'e9) paragraph, a euro-sign (\\u8364)
    paragraph — so byte escapes, unicode escapes and both break
    words are all under driver verification."""
    import hashlib as _hl

    import pandas as _pd

    from pypond_spark.datapipe.rtf import encode_rtf

    def enc(batches):
        for pdf_ in batches:
            rows = []
            for did, text in zip(pdf_["doc_id"], pdf_["text"]):
                did = int(did)

                def h(tag):
                    return _hl.md5(f"{text}&{tag}".encode("utf-8")) \
                        .hexdigest()

                paras = [h(f"rp{p}") for p in range(2 + did % 3)]
                if did % 4 == 0:
                    paras.append(h("rt1") + "\t" + h("rt2"))
                elif did % 4 == 1:
                    paras.append(h("rb1") + "\n" + h("rb2"))
                elif did % 4 == 2:
                    paras.append("é" + h("re"))
                else:
                    paras.append("€" + h("ru"))
                rows.append((did, encode_rtf(paras)))
            yield _pd.DataFrame(rows, columns=["doc_id", "content"])

    return (_spread(docs).select(F.col("doc_id").cast("long").alias("doc_id"),
                        "text")
            .mapInPandas(enc, "doc_id long, content binary"))


def q_rtf_text_extract(spark, sf_dir):
    """RTF text extraction (datapipe/rtf.py::extract_rtf_text — the
    legacy-format leg of the document tier: group-scoped \\ucN state,
    destination skipping, cp1252 \\'hh and \\uN escapes): one row per
    document against the md5 recipe oracle."""
    from pypond_spark.datapipe.rtf import extract_rtf_text

    docs = _read(spark, sf_dir, "documents")
    rt = _cached_media(spark, sf_dir, "rtf", 1,
                       lambda: _synth_rtf(docs))
    return extract_rtf_text(rt)


def _synth_epub(docs):
    """Deterministic REAL EPUB per doc (datapipe/zipdoc.py::
    encode_epub — OCF container: STORED mimetype first, container.xml
    -> OPF -> spine): chapters c in 0..doc_id%2, chapter c =
    <h1>md5(text||'&et'||c)</h1> + two <p>md5(text||'&ec'||c||'&'||k)
    paragraphs; two-chapter docs (odd doc_id) store the XHTML members
    in REVERSE zip order while the spine stays forward, so a green
    row proves spine-order extraction, not storage-order luck."""
    import hashlib as _hl

    import pandas as _pd

    from pypond_spark.datapipe.zipdoc import encode_epub

    def enc(batches):
        for pdf_ in batches:
            rows = []
            for did, text in zip(pdf_["doc_id"], pdf_["text"]):
                did = int(did)

                def h(tag):
                    return _hl.md5(f"{text}&{tag}".encode("utf-8")) \
                        .hexdigest()

                chapters = [
                    (h(f"et{c}"), [h(f"ec{c}&0"), h(f"ec{c}&1")])
                    for c in range(1 + did % 2)]
                rows.append((did, encode_epub(
                    chapters, reverse_storage=did % 2 == 1)))
            yield _pd.DataFrame(rows, columns=["doc_id", "content"])

    return (_spread(docs).select(F.col("doc_id").cast("long").alias("doc_id"),
                        "text")
            .mapInPandas(enc, "doc_id long, content binary"))


def q_epub_text_extract(spark, sf_dir):
    """EPUB chapter extraction (datapipe/zipdoc.py::
    extract_epub_text — container.xml -> OPF manifest/spine -> XHTML
    members in SPINE order -> block-aware text): one row per spine
    chapter; the oracle rebuilds title + paragraphs from the md5
    recipe with chapter_no following the spine, which the synthesis
    deliberately stores reversed for two-chapter docs."""
    from pypond_spark.datapipe.zipdoc import extract_epub_text

    docs = _read(spark, sf_dir, "documents")
    ep = _cached_media(spark, sf_dir, "epub", 1,
                       lambda: _synth_epub(docs))
    return extract_epub_text(ep)


def _synth_zipshard(docs):
    """The _synth_tar sample recipe over ZIP containers
    (datapipe/tarshard.py::encode_zip_shard): identical members (txt
    / json / rotating cls per sample) so the tar oracle replays
    unchanged; odd doc_ids deflate, even doc_ids store — both zip
    codecs under driver verification."""
    import pandas as _pd

    from pypond_spark.datapipe.tarshard import encode_zip_shard

    def enc(batches):
        import hashlib as _hl
        for pdf_ in batches:
            rows = []
            for did, text in zip(pdf_["doc_id"], pdf_["text"]):
                did = int(did)
                samples = []
                for s in range(1 + did % 3):
                    parts = {
                        "txt": _hl.md5(f"{text}&t{s}".encode("utf-8"))
                        .hexdigest().encode(),
                        "json": (b'{"k":"' + _hl.md5(
                            f"{text}&j{s}".encode("utf-8"))
                            .hexdigest().encode() + b'"}'),
                    }
                    if (did + s) % 2 == 0:
                        parts["cls"] = str((did + s) % 10).encode()
                    samples.append((f"{did}-{s}", parts))
                rows.append((did, encode_zip_shard(
                    samples, compress=did % 2 == 1)))
            yield _pd.DataFrame(rows, columns=["shard_id", "content"])

    return (_spread(docs).select(F.col("doc_id").cast("long").alias("doc_id"),
                        "text")
            .mapInPandas(enc, "shard_id long, content binary"))


def q_zip_shard_ingest(spark, sf_dir):
    """Zip-shard member ingest (datapipe/tarshard.py::
    read_zip_members — r14, the zip twin of tar_shard_ingest with
    the same member/key/ext contract): every member back as (shard,
    key, ext, size, content) rows against the unchanged tar oracle,
    proving zip framing, stored+deflated codecs, key/ext splitting
    and byte fidelity."""
    from pypond_spark.datapipe.tarshard import read_zip_members

    docs = _read(spark, sf_dir, "documents")
    zs = _cached_media(spark, sf_dir, "zipshard", 1,
                       lambda: _synth_zipshard(docs))
    return (read_zip_members(zs, id_col="shard_id")
            .select(F.col("shard_id").alias("doc_id"), "sample_key",
                    "ext", "n_bytes",
                    F.col("data").cast("string").alias("content")))


def _synth_tiff8(docs):
    """8x8 REAL TIFF per doc (datapipe/tiff.py::encode_tiff — r13):
    the SAME chained-md5 pixel recipe as :func:`_synth_ppm8`, with
    byte order (II/MM by doc_id%2), compression (PackBits / none /
    Deflate / LZW by doc_id%4) and strip layout (RowsPerStrip 3 —
    multi-strip with a ragged tail — when doc_id%5 < 3, else one
    strip) all rotating so every decode path is driver-verified.
    TIFF is lossless, so the PPM oracle replays the decoded pixels
    verbatim."""
    import pandas as _pd

    from pypond_spark.datapipe.tiff import encode_tiff

    ppm = _synth_ppm8(docs)

    def enc(batches):
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                mid = int(mid)
                px = bytes(content)[len(b"P6\n8 8\n255\n"):]
                rows.append((mid, encode_tiff(
                    8, 8, px,
                    byte_order="II" if mid % 2 else "MM",
                    compression=("packbits", "none", "deflate",
                                 "lzw")[mid % 4],
                    rows_per_strip=3 if mid % 5 < 3 else None)))
            yield _pd.DataFrame(rows, columns=["media_id", "content"])

    return ppm.mapInPandas(enc, "media_id long, content binary")


def q_image_phash_tiff(spark, sf_dir):
    """Perceptual hashes over pixels decoded from REAL TIFF bytes
    (datapipe/tiff.py::decode_tiff — IFD walk, strip assembly,
    PackBits, both byte orders; decode_image dispatches on the
    II*/MM* magic): identical downstream aHash/dHash chain and
    identical oracle as image_phash, because TIFF is lossless."""
    docs = _read(spark, sf_dir, "documents")
    return dp_mm.image_phash(_synth_tiff8(docs), grid_w=4, grid_h=4)


def _synth_bmp8(docs):
    """8x8 REAL BMP per doc: the SAME chained-md5 pixel recipe as
    :func:`_synth_ppm8`, encoded by ``datapipe.bmp.encode_bmp``
    (bottom-up BGR rows on even ids, negative-height top-down on odd
    ids, so both row orders hit the decoder).  BMP is lossless, so the
    PPM oracle replays the decoded pixels verbatim — a green row
    certifies the BMP encode->decode roundtrip bit-for-bit."""
    import pandas as _pd

    from pypond_spark.datapipe.bmp import encode_bmp

    ppm = _synth_ppm8(docs)

    def enc(batches):
        for pdf in batches:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                px = bytes(content)[len(b"P6\n8 8\n255\n"):]
                rows.append((int(mid),
                             encode_bmp(8, 8, px,
                                        top_down=bool(mid % 2))))
            yield _pd.DataFrame(rows, columns=["media_id", "content"])

    return ppm.mapInPandas(enc, "media_id long, content binary")


def q_image_phash_bmp(spark, sf_dir):
    """Perceptual hashes over pixels decoded from REAL BMP bytes
    (datapipe/bmp.py::decode_bmp — BITMAPINFOHEADER parse, row
    unpadding, BGR->RGB, bottom-up flip on even ids / top-down on odd
    ids): identical downstream aHash/dHash chain as ``image_phash``,
    identical oracle, because BMP is lossless."""
    docs = _read(spark, sf_dir, "documents")
    return dp_mm.image_phash(_synth_bmp8(docs), grid_w=4, grid_h=4)


def q_image_resize(spark, sf_dir):
    """Integer-exact image resize (multimodal.py::resize_image): the
    8x8 synthetic PPM box-downsampled to 4x4 (floor-boundary area
    average, each output sample = floor(cell_sum / cell_area)) and
    nearest-resampled to 2x2 (pixel-center mapping sx =
    (2x+1)*W // (2*out_w)).  Output PPM bytes are exploded to one row
    per (method, pixel byte) so the driver hash covers every byte; the
    oracle rebuilds the source pixels from the md5 hex and replays both
    integer formulas."""
    docs = _read(spark, sf_dir, "documents")
    media = _synth_ppm8(docs)

    def pxrows(out_w, out_h, method):
        n = out_w * out_h * 3
        # output header is b"P6\\n{w} {h}\\n255\\n" = 11 bytes for
        # single-digit dims -> pixel hex starts at position 23 (1-based)
        return (dp_mm.resize_image(media, out_w, out_h, method)
                .select("media_id", F.hex("content").alias("hx"))
                .select("media_id",
                        F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
                        .alias("p"), "hx")
                .select("media_id", F.lit(method).alias("method"), "p",
                        F.conv(F.col("hx").substr(
                            F.lit(23) + F.col("p") * 2, F.lit(2)),
                            16, 10).cast("long").alias("v")))

    return pxrows(4, 4, "box").unionByName(pxrows(2, 2, "nearest"))


def _synth_meta_mix(docs):
    """Per-doc image whose FORMAT and DIMENSIONS derive from doc_id
    (format = doc_id%3 in png/gif/bmp, width = 1+doc_id%7, height =
    1+doc_id%5, pixels from the md5 chain): the sniffing queries'
    synthesis half — the oracle predicts (format, width, height)
    from doc_id alone, no pixel replay needed."""
    import pandas as _pd

    from pypond_spark.datapipe.bmp import encode_bmp
    from pypond_spark.datapipe.gif import encode_gif
    from pypond_spark.datapipe.multimodal import encode_png

    base = _spread_io(docs).select(
        F.col("doc_id").cast("long").alias("media_id"),
        F.concat(*[F.unhex(F.md5(F.concat(F.col("text"),
                                          F.lit(f"@m{k}"))))
                   for k in range(7)]).alias("raw"))

    def enc(batches):
        for pdf in batches:
            rows = []
            for mid, raw in zip(pdf["media_id"], pdf["raw"]):
                mid = int(mid)
                w, h = 1 + mid % 7, 1 + mid % 5
                px = bytes(raw)[:w * h * 3]
                k = mid % 3
                if k == 0:
                    content = encode_png(w, h, px)
                elif k == 1:
                    content = encode_gif(w, h, bytes(range(w * h)), px)
                else:
                    content = encode_bmp(w, h, px,
                                         top_down=bool(mid % 2))
                rows.append((mid, content))
            yield _pd.DataFrame(rows, columns=["media_id", "content"])

    return base.mapInPandas(enc, "media_id long, content binary")


def q_image_meta_sniff(spark, sf_dir):
    """Header-only metadata triage with ZERO Python
    (multimodal.py::sniff_image_meta engine='expr'): format from magic
    bytes, dimensions from the fixed header offsets (PNG IHDR
    big-endian, GIF screen descriptor little-endian, BMP signed-height
    BITMAPINFOHEADER) — pure JVM column expressions over the binary
    column, the shape that filters a 100-TB crawl by size without
    decompressing a pixel.  The oracle predicts every value from
    doc_id (the synthesis recipe), so a green row proves the offset
    arithmetic against three independently-encoded formats."""
    docs = _read(spark, sf_dir, "documents")
    return dp_mm.sniff_image_meta(_synth_meta_mix(docs), engine="expr")


def q_image_meta_jpeg(spark, sf_dir):
    """JPEG dimensions via the SOF marker walk
    (multimodal.py::sniff_image_meta engine='arrow'): JPEG headers
    have no fixed offset, so the sniffer walks marker segments
    (O(#segments) bytes, never the entropy-coded data) to the first
    SOFn and reads the frame dimensions.  Per-doc dims derive from
    doc_id (w = 8+id%9, h = 8+id%7, grayscale baseline encode), so
    the oracle predicts the full result without running a codec."""
    def build():
        import pandas as _pd

        from pypond_spark.datapipe.jpeg import encode_jpeg

        docs = _read(spark, sf_dir, "documents")
        base = docs.select(
            F.col("doc_id").cast("long").alias("media_id"),
            F.concat(*[F.unhex(F.md5(F.concat(F.col("text"),
                                              F.lit(f"@j{k}"))))
                       for k in range(14)]).alias("raw"))

        def enc(batches):
            for pdf in batches:
                rows = []
                for mid, raw in zip(pdf["media_id"], pdf["raw"]):
                    mid = int(mid)
                    w, h = 8 + mid % 9, 8 + mid % 7
                    rows.append((mid, encode_jpeg(
                        w, h, bytes(raw)[:w * h], gray=True)))
                yield _pd.DataFrame(rows,
                                    columns=["media_id", "content"])

        return base.mapInPandas(enc, "media_id long, content binary")

    media = _cached_media(spark, sf_dir, "jpeg_meta", 1, build)
    return dp_mm.sniff_image_meta(media, engine="arrow")


def _synth_y4m(docs, per_doc_unique: bool = True):
    """3-frame 8x8 Y4M video per doc (datapipe/y4m.py::encode_y4m):
    luma byte j of frame f comes from md5(text || '%f#' || j//16) hex
    (the chained-digest recipe of :func:`_synth_ppm8`, one axis per
    frame).  With ``per_doc_unique=False`` the recipe keys on
    ``doc_id % 20`` instead of the text, yielding exactly 20 distinct
    video byte-streams — the planted-duplicate corpus for the
    near-dup row."""
    import hashlib as _hashlib

    import pandas as _pd

    from pypond_spark.datapipe.y4m import encode_y4m

    base = _spread(docs).select(F.col("doc_id").cast("long").alias("media_id"),
                       F.col("text"))

    def enc(batches):
        for pdf in batches:
            rows = []
            for mid, text in zip(pdf["media_id"], pdf["text"]):
                mid = int(mid)
                seed = text if per_doc_unique else f"vid{mid % 20}"
                frames = []
                for f in range(3):
                    frames.append((b"".join(
                        _hashlib.md5(f"{seed}%{f}#{k}".encode())
                        .digest() for k in range(4)))[:64])
                rows.append((mid, encode_y4m(8, 8, frames)))
            yield _pd.DataFrame(rows, columns=["media_id", "content"])

    return base.mapInPandas(enc, "media_id long, content binary")


def _synth_avi32(docs):
    """3-frame 32x32 MJPEG AVI per doc (datapipe/avi.py::
    encode_avi_mjpeg): frame f's 16 block values (4x4 grid of 8x8
    blocks) are the bytes of md5(text || '@a' || f), encoded as a
    grayscale all-ones-qtable baseline JPEG inside a RIFF/AVI movi
    chunk — the image tier's DC-only exactness regime carried into a
    COMPRESSED video container."""
    import hashlib as _hashlib

    import numpy as _np
    import pandas as _pd

    from pypond_spark.datapipe.avi import encode_avi_mjpeg

    base = _spread(docs).select(F.col("doc_id").cast("long").alias("media_id"),
                       F.col("text"))

    def enc(batches):
        for pdf in batches:
            rows = []
            for mid, text in zip(pdf["media_id"], pdf["text"]):
                frames = []
                for f in range(3):
                    dig = _hashlib.md5(f"{text}@a{f}".encode()).digest()
                    vals = _np.frombuffer(dig, dtype=_np.uint8) \
                        .reshape(4, 4)
                    frames.append(_np.repeat(_np.repeat(vals, 8, 0),
                                             8, 1).tobytes())
                rows.append((int(mid),
                             encode_avi_mjpeg(32, 32, frames,
                                              qtable=[1] * 64)))
            yield _pd.DataFrame(rows, columns=["media_id", "content"])

    return base.mapInPandas(enc, "media_id long, content binary")


def q_video_frame_phash_avi(spark, sf_dir):
    """Frame sampling + per-frame perceptual hashing over a COMPRESSED
    video container (datapipe/avi.py::decode_avi_mjpeg — RIFF chunk
    walk, per-frame JPEG entropy decode — feeding the same
    sample_video_frames -> image_phash chain as Y4M): block-constant
    frames with an all-ones quant table decode EXACTLY, so the oracle
    replays every comparison from the per-frame md5 digests without
    running either codec."""
    docs = _read(spark, sf_dir, "documents")
    avi = _cached_media(spark, sf_dir, "avi32", 1,
                        lambda: _synth_avi32(docs))
    frames = dp_y4m.sample_video_frames(avi, every_n=1)
    keyed = frames.select("media_id", "frame_idx", "content")
    return dp_mm.image_phash(keyed, grid_w=4, grid_h=4,
                             extra_cols=("frame_idx",))


def _synth_gif_anim8(docs):
    """3-frame 8x8 animated GIF per doc (datapipe/gif.py::
    encode_gif_anim): frame f's 64 GRAY values are the chained-digest
    bytes md5(text||'@g'||f||'#'||k), carried as a LOCAL palette of
    (v,v,v) triples with identity indices — GIF is lossless and the
    gray canvas keeps decode_gif_frames' luma EXACT, so the oracle
    replays the per-frame pixels straight from the digests."""
    import hashlib as _hashlib

    import pandas as _pd

    from pypond_spark.datapipe.gif import encode_gif_anim

    base = _spread(docs).select(F.col("doc_id").cast("long").alias("media_id"),
                       F.col("text"))

    def enc(batches):
        idx = bytes(range(64))
        for pdf in batches:
            rows = []
            for mid, text in zip(pdf["media_id"], pdf["text"]):
                frames = []
                for f in range(3):
                    vals = (b"".join(
                        _hashlib.md5(f"{text}@g{f}#{k}".encode())
                        .digest() for k in range(4)))[:64]
                    pal = b"".join(bytes([v, v, v]) for v in vals)
                    frames.append({"indices": idx, "palette": pal,
                                   "disposal": 1})
                rows.append((int(mid),
                             encode_gif_anim(8, 8, frames,
                                             delay_cs=4)))
            yield _pd.DataFrame(rows, columns=["media_id", "content"])

    return base.mapInPandas(enc, "media_id long, content binary")


def q_video_frame_phash_gif(spark, sf_dir):
    """Frame sampling + per-frame perceptual hashing over an ANIMATED
    GIF (datapipe/gif.py::decode_gif_frames — r12: GIF89a graphic-
    control compositing feeding the same sample_video_frames ->
    image_phash chain as Y4M/AVI): gray-valued local palettes keep
    the canvas luma exact, so the oracle replays every comparison
    from the per-frame digests without running the codec."""
    docs = _read(spark, sf_dir, "documents")
    frames = dp_y4m.sample_video_frames(_synth_gif_anim8(docs),
                                        every_n=1)
    keyed = frames.select("media_id", "frame_idx", "content")
    return dp_mm.image_phash(keyed, grid_w=4, grid_h=4,
                             extra_cols=("frame_idx",))


def q_video_frame_phash(spark, sf_dir):
    """REAL video frame sampling + per-frame perceptual hashing
    (datapipe/y4m.py::sample_video_frames -> multimodal.image_phash):
    each doc's 3-frame Y4M decodes to luma planes, every frame is
    emitted as a grayscale PPM and hashed on the 4x4 integer grid.
    Gray = 3*Y (luma replicated to RGB), and every phash comparison
    is homogeneous of degree one in the pixel values, so the oracle
    replays the comparisons with the raw LUMA bytes — the factor 3
    cancels.  Frame identity rides through as image_phash's
    ``extra_cols`` pass-through (the r12 un-packing fix), so no
    media_id*K+frame_idx packing anywhere."""
    docs = _read(spark, sf_dir, "documents")
    frames = dp_y4m.sample_video_frames(_synth_y4m(docs), every_n=1)
    keyed = frames.select("media_id", "frame_idx", "content")
    return dp_mm.image_phash(keyed, grid_w=4, grid_h=4,
                             extra_cols=("frame_idx",))


def q_video_near_dups(spark, sf_dir):
    """Near-duplicate videos by shared per-frame dHashes
    (datapipe/y4m.py::video_near_dups — sample, hash, join on exact
    frame-hash equality, keep pairs sharing the full distinct-hash
    set): the synthetic corpus keys video content on doc_id % 20
    (bounded to doc_id < 100), so the expected pairs are exactly the
    same-residue doc pairs at shared_frac 1.0 — which the oracle
    states directly, no codec run."""
    docs = _read(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    vids = _synth_y4m(docs, per_doc_unique=False)
    out = dp_y4m.video_near_dups(vids, every_n=1, grid_w=7, grid_h=7,
                                 min_shared=1.0)
    return out.select("id_a", "id_b", "shared_frac")


# fixed PCM16 mono 8kHz WAV header for exactly 6 samples (12 data bytes)
import struct as _struct  # noqa: E402

_WAV_HDR = (b"RIFF" + _struct.pack("<I", 36 + 12) + b"WAVE"
            + b"fmt " + _struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
            + b"data" + _struct.pack("<I", 12))


# fixed PCM16 mono 8kHz WAV header for exactly 128 samples (256 data
# bytes) — the audio_fingerprint query's synthetic clip
_WAV_HDR_128 = (b"RIFF" + _struct.pack("<I", 36 + 256) + b"WAVE"
                + b"fmt " + _struct.pack("<IHHIIHH", 16, 1, 1, 8000,
                                         16000, 2, 16)
                + b"data" + _struct.pack("<I", 256))


def _synth_wav128(docs):
    """128-sample PCM16 WAV per doc: fixed RIFF header + 256 bytes from
    16 chained md5 digests — every little-endian sample reproducible in
    SQL, so perceptual fingerprints over the DECODED samples are fully
    oracle-replayable."""
    parts = [F.unhex(F.md5(F.concat(F.col("text"), F.lit(f"~{k}"))))
             for k in range(16)]
    return _spread(docs).select(F.col("doc_id").cast("long").alias("media_id"),
                       F.concat(F.lit(_WAV_HDR_128), *parts)
                       .alias("content"))


def q_audio_fingerprint(spark, sf_dir):
    """Perceptual audio fingerprint over REAL decoded PCM16 samples
    (multimodal.py::audio_fingerprint, the energy-delta-sign family):
    16 frames of 8 samples, exact integer frame energies sum(v^2), bit
    f-1 = energy[f] > energy[f-1] — gain-invariant and fully integer,
    so the oracle rebuilding every sample from md5 hex replays the
    fingerprint bit-for-bit."""
    docs = _read(spark, sf_dir, "documents")
    return dp_mm.audio_fingerprint(_synth_wav128(docs), frame_size=8,
                                   max_frames=16)


def _synth_flac128(spark, sf_dir):
    """The SAME 128 int16 samples as :func:`_synth_wav128`, encoded
    as REAL FLAC (datapipe/flac.py::encode_flac — r13) instead of
    WAV: subframe strategy rotates over all seven encoder modes and
    the block size alternates 32/48 (multi-frame streams with ragged
    tails) by doc_id.  FLAC is integer-exact lossless, so the
    unchanged audio_fingerprint oracle replays the decoded samples
    from the md5 hex verbatim.  Fixture-cached since r14 so the
    bench row tracks FLAC DECODE, not re-encoding the fixtures."""
    def build():
        import pandas as _pd

        from pypond_spark.datapipe.flac import encode_flac

        wav = _synth_wav128(_read(spark, sf_dir, "documents"))
        modes = ("auto", "verbatim", "fixed0", "fixed1", "fixed2",
                 "fixed3", "fixed4")

        def enc(batches):
            for pdf in batches:
                rows = []
                for mid, content in zip(pdf["media_id"],
                                        pdf["content"]):
                    mid = int(mid)
                    raw = bytes(content)[len(_WAV_HDR_128):]
                    samples = list(_struct.unpack("<128h", raw))
                    rows.append((mid, encode_flac(
                        8000, 1, 16, [samples],
                        blocksize=32 if mid % 2 else 48,
                        subframe=modes[mid % 7])))
                yield _pd.DataFrame(rows,
                                    columns=["media_id", "content"])

        return wav.mapInPandas(enc, "media_id long, content binary")

    return _cached_media(spark, sf_dir, "flac128", 1, build)


def q_audio_fingerprint_flac(spark, sf_dir):
    """Perceptual audio fingerprint over samples decoded from REAL
    FLAC bytes (datapipe/flac.py::decode_flac — frame sync, CRC-8/16
    verification, Rice residuals, fixed predictors; decode_audio
    dispatches on the fLaC magic): identical downstream energy-delta
    chain and identical oracle as audio_fingerprint, because FLAC is
    lossless — a green row certifies the full FLAC encode->decode
    roundtrip bit-for-bit across all seven subframe strategies."""
    return dp_mm.audio_fingerprint(_synth_flac128(spark, sf_dir),
                                   frame_size=8, max_frames=16)


def _synth_aiff128(spark, sf_dir):
    """The SAME 128 int16 samples as :func:`_synth_wav128`, encoded
    as REAL AIFF (datapipe/aiff.py — r14), rotating the container
    variants by doc_id: plain AIFF big-endian, AIFC 'NONE', AIFC
    'sowt' little-endian, and 24-bit AIFF with a uniform <<8 gain
    (the energy-delta-SIGN fingerprint is gain-invariant, so the
    unchanged WAV oracle still replays bit-for-bit).  Routed through
    the fixture cache from birth (r13 bench-hygiene rule)."""
    def build():
        import pandas as _pd

        from pypond_spark.datapipe.aiff import encode_aiff

        wav = _synth_wav128(_read(spark, sf_dir, "documents"))

        def enc(batches):
            for pdf in batches:
                rows = []
                for mid, content in zip(pdf["media_id"],
                                        pdf["content"]):
                    mid = int(mid)
                    raw = bytes(content)[len(_WAV_HDR_128):]
                    samples = list(_struct.unpack("<128h", raw))
                    m = mid % 4
                    if m == 0:
                        b = encode_aiff(8000, 1, 16, samples)
                    elif m == 1:
                        b = encode_aiff(8000, 1, 16, samples,
                                        "NONE")
                    elif m == 2:
                        b = encode_aiff(8000, 1, 16, samples,
                                        "sowt")
                    else:
                        b = encode_aiff(8000, 1, 24,
                                        [v << 8 for v in samples])
                    rows.append((mid, b))
                yield _pd.DataFrame(rows,
                                    columns=["media_id", "content"])

        return wav.mapInPandas(enc, "media_id long, content binary")

    return _cached_media(spark, sf_dir, "aiff128", 1, build)


def q_audio_fingerprint_aiff(spark, sf_dir):
    """Perceptual audio fingerprint over samples decoded from REAL
    AIFF/AIFF-C bytes (datapipe/aiff.py::decode_aiff — FORM chunk
    walk, 80-bit extended-float rate, BE/sowt byte orders,
    8/16/24/32-bit PCM; decode_audio dispatches on the FORM magic):
    identical downstream energy-delta chain and identical oracle as
    audio_fingerprint because PCM is lossless and the fingerprint is
    gain-invariant — a green row certifies the AIFF encode->decode
    roundtrip across all four container variants."""
    return dp_mm.audio_fingerprint(_synth_aiff128(spark, sf_dir),
                                   frame_size=8, max_frames=16)


def q_audio_near_dups(spark, sf_dir):
    """Near-duplicate audio by Hamming distance on the energy-delta
    fingerprint (multimodal.py::audio_near_dups): the pigeonhole chunk
    blocker (4 chunks over 15 bits, radius 2 — recall-complete) keys
    the candidate join; the oracle filters all pairs directly, so a
    hash match PROVES blocking completeness."""
    docs = _read(spark, sf_dir, "documents")
    return dp_mm.audio_near_dups(_synth_wav128(docs), frame_size=8,
                                 max_frames=16, max_hamming=2,
                                 n_chunks=4)


def q_control_chart(spark, sf_dir):
    """Western Electric control-chart zone rules per user
    (operators/changepoint.py::control_chart_rules, the 1956 SPC
    handbook): hourly integer-micro-unit bucket means vs the explicit
    target 50 / sigma 25, four window-aggregate rules (3-sigma point,
    2-of-3 beyond 2-sigma, 4-of-5 beyond 1-sigma, 8 same-side) —
    pattern alarms beside CUSUM's drift alarms.  Fully integer, so the
    oracle's identical windows hash-match."""
    from pypond_spark.operators.changepoint import control_chart_rules
    ev = _events_df(spark, sf_dir).withColumnRenamed("ts", "time")
    return control_chart_rules(ev, "value", "1h", ["user_id"],
                               target=50.0, sigma=25.0)


def q_k_anonymity(spark, sf_dir):
    """k-anonymity + l-diversity audit (datapipe/privacy.py::
    k_anonymity, Sweeney 2002 / Machanavajjhala et al. 2007): events
    rows keyed by the (user_id, event_type) quasi-identifier pair with
    the hour-of-day as the sensitive attribute — groups below k=5 are
    linkage-re-identifiable, groups with one distinct hour leak it
    outright (homogeneity attack).  ONE map-side-combinable groupBy;
    the oracle is the same grouped count/count-distinct."""
    from pypond_spark.datapipe import privacy as dp_priv
    ev = _events_df(spark, sf_dir)
    ev = ev.withColumn(
        "hour", (F.floor(F.unix_millis(F.col("ts")) / F.lit(3600000))
                 % 24).cast("int"))
    return dp_priv.k_anonymity(ev, ["user_id", "event_type"], k=5,
                               sensitive_col="hour")


def q_multimodal_decode_audio(spark, sf_dir):
    """REAL audio decode: a 6-sample PCM16 WAV per doc (fixed RIFF header +
    12 md5 digest bytes as little-endian samples) decoded with the stdlib
    wave module; peak/RMS are integer-exact up to the final sqrt."""
    docs = _read(spark, sf_dir, "documents")
    content = F.concat(F.lit(_WAV_HDR),
                       F.unhex(F.substring(F.md5("text"), 1, 24)))
    media = docs.select(F.col("doc_id").cast("long").alias("media_id"),
                        content.alias("content"))
    out = dp_mm.audio_stats(media)
    return out.select("media_id", "n_channels", "sample_rate", "n_samples",
                      "peak", F.round("rms", 6).alias("rms"))


# ---------------------------------------------------------------------------
# sampling / mixing / packing / privacy (training-data pipeline operators)
# ---------------------------------------------------------------------------


def _salted_pii(docs):
    """The synthetic corpus has no PII, so graft deterministic PII onto a
    subset (email on doc_id%3, phone on %5, ipv4 on %7) — the oracle builds
    the identical text, making counts and redaction fully verifiable."""
    did = F.col("doc_id").cast("string")
    return docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit(" contact user"), did,
                            F.lit("@example.com"))).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit(" call 555-123-4567")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.lit(" host 10.0."),
                            (F.col("doc_id") % 256).cast("string"),
                            F.lit(".1"))).otherwise(F.lit(""))))


def q_pii_redact(spark, sf_dir):
    """PII detection + typed-placeholder redaction (datapipe/privacy.py):
    per-kind regexp_count + a regexp_replace chain, all scan-level column
    exprs; redacted text compared by md5 to keep the result slim."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_priv.redact_pii(_salted_pii(docs))
    return out.select("doc_id", F.md5("redacted").alias("redacted_md5"),
                      "n_email", "n_ipv4", "n_ssn", "n_phone", "has_pii")


def q_sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling (datapipe/sampling.py): per-lang
    keep fractions via an md5 hash filter — no rand(), no shuffle; the
    oracle reproduces the exact sample from the same hash arithmetic."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_sample.sample_stratified(
        docs, {"en": 0.5, "de": 1.0, "zh": 0.25}, strata_col="lang",
        seed=42)
    return out.select("doc_id", "lang")


def q_token_budget_mix(spark, sf_dir):
    """Per-domain token-budget mixing: hash-ordered greedy prefix per
    source until the domain budget is met (one shuffle on source + a
    running-sum window). src2's budget exceeds its total tokens, covering
    the domain-exhausted path."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_sample.token_budget_mix(
        docs, {"src0": 4000, "src1": 1500, "src2": 10_000_000})
    return out.select("doc_id", "source", "n_tokens", "cum_tokens")


def q_temperature_mix(spark, sf_dir):
    """Temperature-weighted source mixing (datapipe/sampling.py::
    temperature_mix — mC4/XLM-R n^alpha recipe, arXiv:1911.02116):
    alpha=0.5 so the source weight is sqrt(n) (IEEE-exact cross-engine),
    budgets derived in-plan from per-source token totals, then the
    hash-prefix take. cum_tokens BIGINT-cast both sides (HUGEINT
    lesson)."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_sample.temperature_mix(docs, total_tokens=15_000, alpha=0.5)
    return out.select("doc_id", "source", "n_tokens",
                      F.col("cum_tokens").cast("long").alias("cum_tokens"),
                      "budget_tokens", "mix_share")


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (datapipe/sampling.py::dsir_weights —
    Xie et al. 2023, arXiv:2302.03169): target = src0 documents, raw =
    whole corpus; hashed unigram+bigram buckets (4096), Laplace
    smoothing, per-doc log-weight accumulated as exact micro-nat
    integers so the hash can't drift on summation order."""
    docs = _read(spark, sf_dir, "documents")
    target = docs.where(F.col("source") == "src0")
    out = dp_sample.dsir_weights(docs, target, n_buckets=4096)
    return out.select("doc_id", "n_grams", "log_weight")


def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing: shard by key hash, per-shard
    running token sum, cut every max_tokens — every doc gets a
    (shard, seq, offset) slot; spanning docs simply continue into the next
    sequence."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_sample.pack_sequences(docs, max_tokens=2048, n_shards=8)
    return out.select("doc_id", "n_tokens", "shard", "seq", "offset")


def q_chunk_docs(spark, sf_dir):
    """Fixed-token chunking with overlap (datapipe/sampling.py): pure array
    expressions, no shuffle; 64-token chunks with 8-token overlap so the
    windowed-slice arithmetic is exercised."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_sample.chunk_documents(docs, chunk_tokens=64, overlap=8)
    return out.select("doc_id", "chunk_idx",
                      F.md5("chunk_text").alias("chunk_md5"),
                      "chunk_n_tokens")


def q_unigram_logprob(spark, sf_dir):
    """Corpus-relative fluency: mean log2 unigram probability per doc,
    trained on the corpus itself (two passes over one token explode)."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_text.unigram_logprob(docs)
    return out.select("doc_id", "n_tokens",
                      F.round("mean_logprob", 6).alias("mean_logprob"))


def q_rolling_10m_stats(spark, sf_dir):
    """Trailing-window aggregates per event (operators/rolling.py): RANGE
    frame on epoch-ms, one shuffle on the series key — moving avg/count/max
    over the 10 minutes ending at each event."""
    ts = _events_ts(spark, sf_dir)
    out = ts.rolling("10m", {"avg_10m": {"value": "avg"},
                             "n_10m": {"value": "count"},
                             "max_10m": {"value": "max"}},
                     partition_by=["user_id"])
    return out.df.select(
        "event_id", "user_id", _ms().alias("t_ms"),
        F.round("avg_10m", 6).alias("avg_10m"), "n_10m", "max_10m")


def q_zscore_by_user(spark, sf_dir):
    """Whole-series z-score + anomaly flag per user's events
    (operators/rolling.py::zscore): unframed partition window, population
    stddev, NULL z for zero-variance series."""
    ts = _events_ts(spark, sf_dir)
    out = ts.zscore("value", partition_by=["user_id"], threshold=3.0)
    return out.df.select(
        "event_id", "user_id",
        F.round("value_zscore", 6).alias("value_zscore"),
        F.col("value_anomaly"))


def q_containment_pairs(spark, sf_dir):
    """Directional n-gram containment (datapipe/dedup.py): every 5th doc
    is paired with its own 20-token prefix — the prefix side's containment
    must be 1.0 (subset duplication Jaccard under-scores)."""
    docs = _read(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"),
                    lambda t: t != F.lit(""))
    trunc = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, 20)).alias("text"))
    both = docs.select("doc_id", "text").union(trunc)
    pairs = docs.where(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1_000_000).alias("id_b"))
    out = dp_dedup.ngram_containment(both, pairs)
    return out.select(
        "id_a", "id_b",
        F.round("containment_a", 6).alias("containment_a"),
        F.round("containment_b", 6).alias("containment_b"))


def q_interval_join_events(spark, sf_dir):
    """Bucketized interval-overlap join (operators/interval.py): per-user
    high-value episodes [ts, ts+10m) vs click windows [ts, ts+5m) —
    bucket equi-join + exact predicate, never a nested-loop; the oracle
    is DuckDB's plain overlap join."""
    from pypond_spark.operators.interval import interval_join
    ev = _events_df(spark, sf_dir)
    left = ev.where(F.col("value") > 90).select(
        F.col("event_id").alias("lid"), "user_id",
        F.col("ts").alias("begin"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end"))
    right = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("rid"), "user_id",
        F.col("ts").alias("begin"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("end"))
    out = interval_join(left, right, on=["user_id"], bucket="10m")
    return out.select(
        F.col("l_lid").alias("lid"), F.col("r_rid").alias("rid"), "user_id",
        F.greatest(F.unix_millis("l_begin"), F.unix_millis("r_begin"))
        .alias("o_begin_ms"),
        F.least(F.unix_millis("l_end"), F.unix_millis("r_end"))
        .alias("o_end_ms"))


def q_take_per_source(spark, sf_dir):
    """Deterministic k-per-group balancing (datapipe/sampling.py): the 3
    smallest-hash docs per source — rerun-stable uniform random-k."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_sample.take_per_group(docs, k=3, group_col="source")
    return out.select("doc_id", "source")


def q_ewma_per_user(spark, sf_dir):
    """EWMA per user (operators/rolling.py::ewma, Arrow recurrence).
    alpha=0.5 keeps every step an exact IEEE halving, so the DuckDB
    list_reduce fold reproduces the values bit-for-bit."""
    ts = _events_ts(spark, sf_dir)
    out = ts.ewma("value", alpha=0.5, partition_by=["user_id"],
                  tiebreak="event_id")
    # no rounding: both engines produce bit-identical doubles (every step
    # is exact IEEE halving), and rounding would CREATE mismatches — the
    # dyadic values land exactly on decimal .5 boundaries where Spark's
    # HALF_UP and DuckDB's rounding of the underlying binary double differ
    return out.df.select("event_id", "user_id", _ms().alias("t_ms"),
                         "value_ewma")


def q_tfidf_top_terms(spark, sf_dir):
    """Top-5 characteristic terms per doc by smoothed TF-IDF with a
    deterministic (score desc, term asc) tie-break both engines share."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_text.tfidf_top_terms(docs, k=5)
    return out.select("doc_id", "rank", "term",
                      F.round("tfidf", 6).alias("tfidf"))


def q_deep_path_fill(spark, sf_dir):
    """Nested-struct deep paths through the engine on driver data: build a
    two-level payload struct (props-JSON k + direction.v), null v on
    clicks, LOCF-fill THROUGH the dotted path ``payload.direction.v``
    (util.set_field drives withField on the root struct; reference deep
    paths, bases.py:87-110), then read results back out via deep get."""
    df = _events_df(spark, sf_dir).withColumnRenamed("ts", "time")
    nested = df.select(
        "event_id", "user_id", "time",
        F.struct(
            F.from_json(F.col("props"), "k int").getField("k").alias("k"),
            F.struct(
                F.when(F.col("event_type") != "click", F.col("value"))
                .alias("v")).alias("direction")).alias("payload"))
    ts = TimeSeries(nested, "time", {"name": "deep"})
    filled = ts.fill(field_spec="payload.direction.v", method="pad",
                     partition_by=["user_id"])
    return filled.df.select(
        "event_id", "user_id",
        F.col("payload.k").alias("k"),
        F.round(F.col("payload.direction.v"), 6).alias("v_filled"))


def q_shuffle_shards(spark, sf_dir):
    """Deterministic corpus shuffle into 8 export shards
    (datapipe/sampling.py::shuffle_shards): md5-derived shard + in-shard
    position, reproducible across engines and reruns."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_sample.shuffle_shards(docs, n_shards=8)
    return out.select("doc_id", "shard", "pos")


def q_upsample_quality(spark, sf_dir):
    """Quality-tier upsampling (datapipe/sampling.py::upsample): longer
    documents get 3/2/1 epochs via a pure explode — zero shuffles."""
    docs = _read(spark, sf_dir, "documents")
    tier = (F.when(F.col("n_chars") >= 400, F.lit(3))
            .when(F.col("n_chars") >= 200, F.lit(2))
            .otherwise(F.lit(1)))
    out = dp_sample.upsample(docs, tier)
    return out.select("doc_id", "copy")


def q_ngram_top(spark, sf_dir):
    """Global top-20 bigrams with corpus counts
    (datapipe/textstats.py::ngram_top): one shuffle on the gram key, heap
    top-k, deterministic (count desc, gram asc) tie-break."""
    docs = _read(spark, sf_dir, "documents")
    return dp_text.ngram_top(docs, n=2, k=20)


def q_label_centroids(spark, sf_dir):
    """Per-label mean embedding as (label, dim, centroid, n) rows
    (datapipe/similarity.py::label_centroids): shuffle volume bounded by
    labels x dims via map-side partial aggregation."""
    emb = _read(spark, sf_dir, "embeddings")
    out = dp_sim.label_centroids(emb)
    return out.select("label", "dim",
                      F.round("centroid", 6).alias("centroid"), "n")


def q_stream_rolling_10m(spark, sf_dir):
    """Streaming twin of rolling_10m_stats (streaming/stream.py::
    stream_rolling): trailing 10m aggregates via applyInPandasWithState,
    drained with availableNow; carry_cols lines output up row-for-row
    with the batch operator, so the DuckDB oracle is the identical SQL."""
    from pypond_spark.streaming import stream_rolling
    sdf = _events_stream(spark, sf_dir)
    out = stream_rolling(sdf, "10m",
                         {"avg_10m": {"value": "avg"},
                          "n_10m": {"value": "count"},
                          "max_10m": {"value": "max"}},
                         partition_by=["user_id"],
                         carry_cols=["event_id"])
    result = run_available_now(out, "append")
    return result.select("event_id", "user_id", "t_ms",
                         F.round("avg_10m", 6).alias("avg_10m"),
                         "n_10m", "max_10m")


def q_stream_zscore_10m(spark, sf_dir):
    """Streaming trailing-window anomaly scores (streaming/stream.py::
    stream_zscore): each event scored against the prior 10 minutes
    EXCLUDING its own millisecond — exact across micro-batches."""
    from pypond_spark.streaming import stream_zscore
    sdf = _events_stream(spark, sf_dir)
    out = stream_zscore(sdf, "value", window="10m",
                        partition_by=["user_id"], threshold=2.0,
                        carry_cols=["event_id"])
    result = run_available_now(out, "append")
    return result.select("event_id", "user_id", "t_ms",
                         F.round("value_zscore", 6).alias("value_zscore"),
                         "value_anomaly")


def q_stream_ewma(spark, sf_dir):
    """Streaming EWMA (streaming/stream.py::stream_ewma) with the batch
    operator's tiebreak contract; the recurrence is written identically,
    so the values are bit-for-bit the batch ewma's and the oracle is the
    same DuckDB list_reduce fold (no rounding needed)."""
    from pypond_spark.streaming import stream_ewma
    sdf = _events_stream(spark, sf_dir)
    out = stream_ewma(sdf, "value", alpha=0.5, partition_by=["user_id"],
                      tiebreak="event_id", carry_cols=["event_id"])
    result = run_available_now(out, "append")
    return result.select("event_id", "user_id", "t_ms", "value_ewma")


def q_value_histogram(spark, sf_dir):
    """Fixed-width value histogram per event_type
    (operators/histogram.py): map-side floor-binning + one shuffle
    bounded by groups x occupied bins."""
    ts = _events_ts(spark, sf_dir)
    return ts.histogram("value", bin_width=25.0,
                        partition_by=["event_type"])


def q_distinct_users_hourly(spark, sf_dir):
    """Exact distinct-user cardinality per hour x event_type via the
    agg-spec language's new count_distinct reducer (functions.py); the
    approx_distinct HLL++ twin is the huge-group scale path (sketch
    state, no exact oracle)."""
    ts = _events_ts(spark, sf_dir)
    out = ts.fixed_window_rollup(
        "1h", {"u_users": {"user_id": "count_distinct"},
               "n": {"value": "count"}}, group_by="event_type")
    return out.df.select("index", "event_type", "u_users", "n")


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shape (shipping priority) on the testdata columns: the
    multi-join showcase — customer dim filtered then BROADCAST to the
    orders join (no shuffle of the fact side for the dim), one shuffled
    equi-join lineitem x orders on the orderkey, then group + top-10 via
    TakeOrderedAndProject. Deterministic full tie-break so both engines
    agree on the exact top-10."""
    cust = _read(spark, sf_dir, "customer") \
        .where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = _read(spark, sf_dir, "orders") \
        .where(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")) \
        .select("o_orderkey", "o_custkey", "o_orderdate")
    li = _read(spark, sf_dir, "lineitem") \
        .where(F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")) \
        .select("l_orderkey", "l_extendedprice", "l_discount")
    out = (li.join(orders.join(F.broadcast(cust),
                               F.col("o_custkey") == F.col("c_custkey")),
                   F.col("l_orderkey") == F.col("o_orderkey"))
           .groupBy("l_orderkey", "o_orderdate")
           .agg(F.round(F.sum(F.col("l_extendedprice")
                              * (1 - F.col("l_discount"))), 4)
                .alias("revenue"))
           .orderBy(F.desc("revenue"), F.asc("o_orderdate"),
                    F.asc("l_orderkey"))
           .limit(10))
    return out.select("l_orderkey",
                      F.unix_millis("o_orderdate").alias("o_date_ms"),
                      "revenue")


def q_centroid_classify(spark, sf_dir):
    """Nearest-centroid classification of every embedding against the
    per-label centroids (datapipe/similarity.py::nearest_centroid over
    label_centroids): centroids rounded to 6 decimals on both engines,
    scores rounded before the argmax, ties to the smallest label — a
    fully deterministic cross-engine decision. Classification itself is
    map-side only (no shuffle); the centroid build is one bounded agg."""
    emb = _read(spark, sf_dir, "embeddings")
    crows = dp_sim.label_centroids(emb).collect()
    by_label: dict[int, dict[int, float]] = {}
    for r in crows:
        by_label.setdefault(r["label"], {})[r["dim"]] = round(
            r["centroid"], 6)
    cents = [(lab, [dims[d] for d in sorted(dims)])
             for lab, dims in sorted(by_label.items())]
    out = dp_sim.nearest_centroid(emb, cents)
    return out.select(
        "vec_id", "label", "pred_label",
        (F.col("label") == F.col("pred_label")).cast("int").alias("correct"))


def q_gaps_per_user(spark, sf_dir):
    """Outage detection (operators/gaps.py::find_gaps): TimeRange rows for
    silences > 4h between a user's consecutive events. One lag() window on
    the user key; output bounded by the gap count, not the event count."""
    ts = _events_ts(spark, sf_dir)
    out = ts.find_gaps("4h", partition_by=["user_id"])
    return out.select(
        "user_id", F.unix_millis("gap_start").alias("gap_start_ms"),
        F.unix_millis("gap_end").alias("gap_end_ms"), "gap_ms")


def q_ohlc_hourly(spark, sf_dir):
    """OHLC rollup per hour x event_type via the agg-spec first/last/max/
    min reducers; ('first'|'last', tiebreak) makes duplicate-timestamp
    winners deterministic on both engines (functions.py)."""
    ts = _events_ts(spark, sf_dir)
    out = ts.ohlc_rollup("1h", "value", group_by="event_type",
                         tiebreak="event_id")
    return out.df.select("index", "event_type",
                         "open", "high", "low", "close")


def q_seasonal_anomaly(spark, sf_dir):
    """Seasonal (day-of-week, hour-of-day) profile + per-event deviation
    (operators/seasonal.py): the profile is <= groups x 168 rows so the
    scoring join is always a broadcast hash join — no shuffle of the
    event side."""
    ts = _events_ts(spark, sf_dir)
    out = ts.seasonal_anomaly("value", partition_by=["event_type"]).df
    return out.select(
        "event_id", "event_type", "dow", "hod",
        F.round("slot_mean", 6).alias("slot_mean"),
        F.round("slot_std", 6).alias("slot_std"),
        F.round("deviation", 6).alias("deviation"))


def q_corr_click_view(spark, sf_dir):
    """Daily Pearson correlation between hourly click-mean and view-mean
    (operators/correlate.py): both series bucketed in ONE conditional
    aggregation (no join/pivot), then corr() per day over the tiny bucket
    frame."""
    ts = _events_ts(spark, sf_dir)
    out = ts.series_correlation("event_type", "click", "view",
                                field="value", bucket="1h", window="1d")
    return out.select("pos", F.round("r", 6).alias("r"), "n_buckets")


def q_chunk_dedup_docs(spark, sf_dir):
    """Chunk-level exact dedup with reassembly (datapipe/dedup.py::
    chunk_dedup — the C4/CCNet line-dedup stage on 20-word windows):
    corpus-wide first occurrence of each chunk survives, documents are
    stitched back in order. Hash-compact output: md5 of the reassembled
    text."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_dedup.chunk_dedup(docs, chunk_words=20)
    return out.select("doc_id", "n_kept",
                      F.md5("text_dedup").alias("text_hash"))


def q_incremental_dedup(spark, sf_dir):
    """Incremental dedup against an existing corpus (datapipe/dedup.py::
    dedup_against): odd doc_ids are the 'new crawl', even doc_ids the
    already-ingested reference; one left-anti digest join drops re-crawls."""
    docs = _read(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 2 == 1)
    ref = docs.where(F.col("doc_id") % 2 == 0)
    return dp_dedup.dedup_against(new, ref).select("doc_id", "source")


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (datapipe/similarity.py::semantic_dedup): k-means cells
    bound the pairwise-cosine work to sum(|cell|^2); quantize=6 +
    round-before-threshold make the keep/drop set identical cross-engine."""
    emb = _read(spark, sf_dir, "embeddings")
    key = ("sem_cents", sf_dir, _data_fingerprint(sf_dir, "embeddings"))
    if key not in _ANN_CACHE:
        _ANN_CACHE[key] = dp_sim.ivf_build(emb, n_cells=16, n_iters=2,
                                           quantize=6)
    return dp_sim.semantic_dedup(emb, n_cells=16, n_iters=2,
                                 threshold=0.9, quantize=6, dim=64,
                                 centroids=_ANN_CACHE[key])


def q_json_props_rollup(spark, sf_dir):
    """Semi-structured ingestion: parse the props JSON column with a
    schema'd from_json (JVM-side, no UDF — the parse lives in the same
    codegen stage as the scan) via TimeSeries.map, then a daily rollup
    grouped by the extracted k-decile."""
    ts = _events_ts(spark, sf_dir)
    ts2 = ts.map({"k_decile": F.floor(
        F.from_json("props", "k INT")["k"] / 10).cast("bigint")})
    out = ts2.daily_rollup(
        {"v_sum": {"value": "sum"}, "n": {"value": "count"}},
        group_by="k_decile")
    # v_sum, not v_avg: the true sums carry 2 decimals so round(..., 6)
    # is ulp-safe, while avg over n=32 creates exact 6-decimal midpoints
    # (0.01/32) where engines' summation order flips the rounding
    return out.df.select(
        "index", "k_decile", F.round("v_sum", 6).alias("v_sum"), "n")


def q_source_overlap(spark, sf_dir):
    """Inter-source duplication matrix (datapipe/dedup.py::source_overlap)
    on the 20-word-prefix digest: one digest groupBy (shuffle bounded by
    distinct contents), pair expansion map-side over the tiny per-digest
    source set — no corpus self-join."""
    docs = _read(spark, sf_dir, "documents")
    return dp_dedup.source_overlap(docs, prefix_words=20)


def q_cumsum_by_user(spark, sf_dir):
    """Running aggregates per series (operators/rolling.py::cumulative):
    cumulative sum + running max of value per user in (ts, event_id)
    order — one row-framed window shuffle on the user key."""
    ts = _events_ts(spark, sf_dir)
    out = ts.cumulative(
        {"v_cum": {"value": "sum"}, "v_runmax": {"value": "max"},
         "n_seen": {"value": "count"}},
        partition_by=["user_id"], tiebreak="event_id")
    return out.df.select(
        "event_id", "user_id", F.unix_millis("time").alias("t_ms"),
        F.round("v_cum", 6).alias("v_cum"), "v_runmax", "n_seen")


def q_top_movers(spark, sf_dir):
    """Day-over-day movers: daily mean per event_type, percent change vs
    the previous day (lag window over the tiny daily frame), rank of the
    absolute move within each day. All heavy lifting is one partial-agged
    shuffle to daily rows; the windows run on groups x days rows."""
    ts = _events_ts(spark, sf_dir)
    daily = ts.daily_rollup({"v_avg": {"value": "avg"}},
                            group_by="event_type").df
    w = Window.partitionBy("event_type").orderBy("index")
    pct = (F.col("v_avg") - F.lag("v_avg").over(w)) / F.lag("v_avg").over(w)
    # pct_change (a ratio of two averages) is non-terminating, so 6-decimal
    # rounding is ulp-safe cross-engine; the raw daily avg is NOT exposed
    # (see json_props_rollup's midpoint note)
    scored = daily.select("index", "event_type",
                          F.round(pct * 100, 6).alias("pct_change"))
    wr = Window.partitionBy("index").orderBy(
        F.desc(F.abs(F.col("pct_change"))), "event_type")
    return (scored.where(F.col("pct_change").isNotNull())
            .withColumn("move_rank", F.row_number().over(wr)))


def q_m4_hourly(spark, sf_dir):
    """M4 visualization downsampling (operators/downsample.py): per
    (event_type, hour) keep the first/last/min/max points — the
    pixel-perfect line-rendering reduction (Jugel et al., VLDB 2014).
    One window shuffle; output bounded by 4 x buckets x groups."""
    ts = _events_ts(spark, sf_dir)
    out = ts.m4_downsample("1h", "value", partition_by=["event_type"],
                           tiebreak="event_id")
    return out.df.select("event_type", "pos",
                         F.unix_millis("time").alias("t_ms"),
                         "value", "tags")


def q_rate_counter_wrap(spark, sf_dir):
    """SNMP-counter rate (operators/rate.py counter_wrap=1024): a
    negative delta is read as a wrap of the 1024-modulus counter —
    the reference's home-domain (network telemetry) semantics."""
    ts = _events_ts(spark, sf_dir)
    out = ts.rate(field_spec="value", partition_by=["user_id"],
                  counter_wrap=1024)
    return out.df.select(
        "user_id", _ms("begin").alias("begin_ms"), _ms("end").alias("end_ms"),
        (F.round("value_rate", 6) + F.lit(0.0)).alias("value_rate"))


def q_stream_gaps(spark, sf_dir):
    """Streaming twin of gaps_per_user (streaming/stream.py::stream_gaps):
    one long of state per key, availableNow drain; identical output
    columns, so the DuckDB oracle is the same SQL as the batch query's."""
    from pypond_spark.streaming import stream_gaps
    sdf = _events_stream(spark, sf_dir)
    out = stream_gaps(sdf, "4h", partition_by=["user_id"])
    result = run_available_now(out, "append")
    return result.select("user_id", "gap_start_ms", "gap_end_ms", "gap_ms")


def q_bigram_logprob(spark, sf_dir):
    """Corpus-relative bigram fluency (textstats.py::bigram_logprob):
    the n-gram LM step up from unigram_logprob, same two-pass shape —
    bigram/context counts on uniform keys, scoring joins co-partition."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_text.bigram_logprob(docs)
    return out.select("doc_id", "n_bigrams",
                      F.round("mean_logprob", 6).alias("mean_logprob"))


def q_kn3_logprob(spark, sf_dir):
    """Interpolated Kneser-Ney trigram fluency
    (textstats.py::kn3_logprob, Chen & Goodman 1998, D=0.75 dyadic):
    the CCNet/KenLM-style filter completing the LM ladder.  All KN
    statistics are marginals of ONE distinct-trigram count table;
    per-trigram log2 p pins to integer micro-nats and the per-doc mean
    uses the recipe-#5 round-half-away integer division, so the oracle
    replays hash-exact."""
    docs = _read(spark, sf_dir, "documents")
    return dp_text.kn3_logprob(docs)


def _langid_ngram_sql(final_select: str) -> str:
    """Multiclass hashed char-3-gram NB replay (the nb_quality recipe,
    one ll column per (bucket, label) in a DENSE table): train on the
    even half's lang labels, score the odd half; ``final_select``
    consumes the ``pred`` CTE (doc_id, lang_pred, n_grams, sc BIGINT
    micro-nats) so the prediction row and the confusion row share one
    verified body."""
    return """
    WITH norm AS MATERIALIZED (
      SELECT doc_id, doc_id % 2 AS par, lang,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents
    ), bk AS MATERIALIZED (
      SELECT doc_id, par, lang,
             ('0x' || substr(md5(g), 1, 8))::BIGINT % 4096 AS b
      FROM (
        SELECT doc_id, par, lang,
               unnest(list_transform(generate_series(1, len(t) - 2),
                                     i -> substr(t, i, 3))) AS g
        FROM norm WHERE len(t) >= 3
      )
    ), labs AS MATERIALIZED (
      SELECT lang AS l, count(*) AS dl FROM documents
      WHERE doc_id % 2 = 0 GROUP BY 1
    ), dtot AS (
      SELECT CAST(sum(dl) AS BIGINT) AS d, count(*) AS nl FROM labs
    ), cnt AS MATERIALIZED (
      SELECT lang AS l, b, count(*) AS c FROM bk
      WHERE par = 0 GROUP BY 1, 2
    ), nlt AS (
      SELECT l, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY l
    ), dense AS MATERIALIZED (
      SELECT bb.b, labs.l,
             CAST(round(ln((coalesce(c.c, 0) + 1.0)
                           / (coalesce(nlt.t, 0) + 1.0 * 4096))
                        * 1000000.0) AS BIGINT) AS ll
      FROM (SELECT unnest(generate_series(0, 4095)) AS b) bb
      CROSS JOIN labs
      LEFT JOIN nlt ON nlt.l = labs.l
      LEFT JOIN cnt c ON c.l = labs.l AND c.b = bb.b
    ), prior AS (
      SELECT labs.l,
             CAST(round(ln((labs.dl + 1.0) / (dtot.d + 1.0 * dtot.nl))
                        * 1000000.0) AS BIGINT) AS pr
      FROM labs CROSS JOIN dtot
    ), per AS MATERIALIZED (
      SELECT bk.doc_id, dense.l, count(*) AS n,
             max(prior.pr) + sum(dense.ll) AS sc
      FROM bk
      JOIN dense ON dense.b = bk.b
      JOIN prior ON prior.l = dense.l
      WHERE bk.par = 1
      GROUP BY 1, 2
    ), pred AS (
      SELECT doc_id, l AS lang_pred, n AS n_grams, sc
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                        ORDER BY sc DESC, l ASC) AS rn FROM per)
      WHERE rn = 1
    )
    """ + final_select


def _kn3_logprob_sql(min_count: int = 1) -> str:
    """The kn3_logprob replay, parametrized on the min_count pruning
    lever (a HAVING on the c3 type CTE — pruned types vanish from
    every marginal AND from the scoring join, exactly the Spark
    semantics)."""
    having = (f" HAVING count(*) >= {int(min_count)}"
              if min_count > 1 else "")
    return _KN3_ORACLE.replace(
        "FROM tg GROUP BY tg", "FROM tg GROUP BY tg" + having)


_KN3_ORACLE = """
    -- every CTE MATERIALIZED: with default inlining DuckDB's join-order
    -- enumeration over the expanded 6-relation DAG stalls for minutes
    -- even at 500 docs (measured); materialization makes it 0.14s
    WITH arr AS MATERIALIZED (
      SELECT doc_id,
             list_filter(list_transform(
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x != ''),
                 x -> regexp_replace(lower(x),
                     '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g')),
               x -> x != '') AS a
      FROM documents
    ), tg AS MATERIALIZED (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(a) - 2),
                 i -> a[i] || ' ' || a[i + 1] || ' ' || a[i + 2])) AS tg
      FROM arr WHERE len(a) >= 3
    ), c3 AS MATERIALIZED (
      SELECT tg, count(*) AS c3 FROM tg GROUP BY tg
    ), w AS MATERIALIZED (
      SELECT tg, c3, split_part(tg, ' ', 1) AS w1,
             split_part(tg, ' ', 2) AS w2,
             split_part(tg, ' ', 3) AS w3
      FROM c3
    ), ctx12 AS MATERIALIZED (
      SELECT w1, w2, sum(c3) AS c12, count(*) AS n1p12
      FROM w GROUP BY w1, w2
    ), mid AS MATERIALIZED (
      SELECT w2, w3, count(*) AS nc23 FROM w GROUP BY w2, w3
    ), mid2 AS MATERIALIZED (
      SELECT w2, sum(nc23) AS nmid2, count(*) AS n1pfw2
      FROM mid GROUP BY w2
    ), end3 AS MATERIALIZED (
      SELECT w3, count(*) AS nend3 FROM mid GROUP BY w3
    ), nt AS MATERIALIZED (
      SELECT CAST(count(*) AS DOUBLE) AS nt FROM mid
    ), lp AS (
      -- explicit ON predicates, NOT a USING chain: chaining
      -- USING (w1,w2) then USING (w2,w3) sends DuckDB's planner into a
      -- multi-minute stall at 500 docs (measured; explicit ON is 90ms)
      SELECT w.tg,
             CAST(round(log2(
                 (w.c3 - 0.75) / ctx12.c12
                 + (0.75 * ctx12.n1p12 / ctx12.c12)
                 * ((mid.nc23 - 0.75) / mid2.nmid2
                    + (0.75 * mid2.n1pfw2 / mid2.nmid2)
                    * (end3.nend3 / nt.nt))) * 1e6) AS BIGINT) AS mic
      FROM w
      JOIN ctx12 ON w.w1 = ctx12.w1 AND w.w2 = ctx12.w2
      JOIN mid ON w.w2 = mid.w2 AND w.w3 = mid.w3
      JOIN mid2 ON w.w2 = mid2.w2
      JOIN end3 ON w.w3 = end3.w3
      CROSS JOIN nt
    )
    SELECT tg.doc_id, count(*) AS n_trigrams,
           -(CAST((-2 * sum(lp.mic) + count(*))
                  // (2 * count(*)) AS BIGINT)) / 1e6 AS mean_logprob
    FROM tg JOIN lp ON tg.tg = lp.tg
    GROUP BY tg.doc_id
"""


def q_kn3_logprob_pruned(spark, sf_dir):
    """kn3_logprob with the min_count=2 SCALE lever forwarded (verdict
    r9 item 3): singleton trigram types drop before the marginals AND
    the scoring join — the self-scored form has no backoff ladder, so
    pruned occurrences are excluded from the per-doc mean (docs losing
    every trigram are absent). Same oracle with the HAVING threshold
    on the c3 type CTE."""
    docs = _read(spark, sf_dir, "documents")
    return dp_text.kn3_logprob(docs, min_count=2)


def q_kn3_heldout(spark, sf_dir):
    """HELD-OUT Kneser-Ney trigram scoring (textstats.py::kn3_score):
    fit on the even-doc_id half of the corpus, score the odd half with
    the FULL backoff ladder — unseen trigram contexts back off to the
    bigram level, unseen middles to the discounted continuation
    unigram, OOV words to the uniform 1/(V+1) mass.  Every branch is
    exact integer statistics; the oracle replays the CASE ladder."""
    docs = _read(spark, sf_dir, "documents")
    return dp_text.kn3_score(docs.where(F.col("doc_id") % 2 == 1),
                             docs.where(F.col("doc_id") % 2 == 0))


def q_kn3_heldout_pruned(spark, sf_dir):
    """kn3_score with the min_count=2 SCALE lever: singleton trigram
    types are dropped before the marginals, routing their mass through
    the backoff ladder — the documented fix for the adversarial
    low-reuse corpus where nearly every type is a singleton (the 100M
    stress measured ~12M types / 823s unpruned).  Same even/odd split;
    the oracle prunes the same c3 CTE."""
    docs = _read(spark, sf_dir, "documents")
    return dp_text.kn3_score(docs.where(F.col("doc_id") % 2 == 1),
                             docs.where(F.col("doc_id") % 2 == 0),
                             min_count=2)


def _kn3_heldout_sql(min_count: int = 1) -> str:
    """DuckDB twin of q_kn3_heldout: the _KN3_ORACLE stat machinery on
    the even half, the backoff CASE ladder on the odd half's trigrams.
    MATERIALIZED CTEs + explicit ONs per the kn3_logprob planner
    findings."""
    toks = """list_filter(list_transform(
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x != ''),
                 x -> regexp_replace(lower(x),
                     '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g')),
               x -> x != '')"""
    tg = """unnest(list_transform(generate_series(1, len(a) - 2),
                 i -> a[i] || ' ' || a[i + 1] || ' ' || a[i + 2]))"""
    return f"""
    WITH arr_t AS MATERIALIZED (
      SELECT doc_id, {toks} AS a FROM documents WHERE doc_id % 2 = 0
    ), tg_t AS MATERIALIZED (
      SELECT {tg} AS tg FROM arr_t WHERE len(a) >= 3
    ), c3 AS MATERIALIZED (
      SELECT tg, count(*) AS c3 FROM tg_t GROUP BY tg
      HAVING count(*) >= {min_count}
    ), w AS MATERIALIZED (
      SELECT tg, c3, split_part(tg, ' ', 1) AS w1,
             split_part(tg, ' ', 2) AS w2,
             split_part(tg, ' ', 3) AS w3
      FROM c3
    ), ctx12 AS MATERIALIZED (
      SELECT w1, w2, sum(c3) AS c12, count(*) AS n1p12
      FROM w GROUP BY w1, w2
    ), mid AS MATERIALIZED (
      SELECT w2, w3, count(*) AS nc23 FROM w GROUP BY w2, w3
    ), mid2 AS MATERIALIZED (
      SELECT w2, sum(nc23) AS nmid2, count(*) AS n1pfw2
      FROM mid GROUP BY w2
    ), end3 AS MATERIALIZED (
      SELECT w3, count(*) AS nend3 FROM mid GROUP BY w3
    ), consts AS MATERIALIZED (
      SELECT (SELECT CAST(count(*) AS DOUBLE) FROM mid) AS nt,
             (SELECT CAST(count(*) AS DOUBLE) FROM end3) AS e,
             (SELECT CAST(count(DISTINCT t) AS DOUBLE)
              FROM (SELECT unnest(a) AS t FROM arr_t)) AS v
    ), tg_s AS MATERIALIZED (
      SELECT doc_id, tg, split_part(tg, ' ', 1) AS w1,
             split_part(tg, ' ', 2) AS w2,
             split_part(tg, ' ', 3) AS w3
      FROM (
        SELECT doc_id, {tg} AS tg
        FROM (SELECT doc_id, {toks} AS a FROM documents
              WHERE doc_id % 2 = 1)
        WHERE len(a) >= 3)
    ), lp AS (
      SELECT s.doc_id,
             CASE WHEN c3.c3 IS NULL THEN 1 ELSE 0 END AS unseen,
             CAST(round(log2(
               CASE WHEN ctx12.c12 IS NOT NULL THEN
                 greatest(coalesce(c3.c3, 0) - 0.75, 0.0) / ctx12.c12
                 + (0.75 * ctx12.n1p12 / ctx12.c12)
                 * (CASE WHEN mid2.nmid2 IS NOT NULL THEN
                      greatest(coalesce(mid.nc23, 0) - 0.75, 0.0)
                        / mid2.nmid2
                      + (0.75 * mid2.n1pfw2 / mid2.nmid2)
                      * (greatest(coalesce(end3.nend3, 0) - 0.75, 0.0)
                           / consts.nt
                         + (0.75 * consts.e / consts.nt)
                         * (1.0 / (consts.v + 1.0)))
                    ELSE
                      greatest(coalesce(end3.nend3, 0) - 0.75, 0.0)
                        / consts.nt
                      + (0.75 * consts.e / consts.nt)
                      * (1.0 / (consts.v + 1.0))
                    END)
               WHEN mid2.nmid2 IS NOT NULL THEN
                 greatest(coalesce(mid.nc23, 0) - 0.75, 0.0)
                   / mid2.nmid2
                 + (0.75 * mid2.n1pfw2 / mid2.nmid2)
                 * (greatest(coalesce(end3.nend3, 0) - 0.75, 0.0)
                      / consts.nt
                    + (0.75 * consts.e / consts.nt)
                    * (1.0 / (consts.v + 1.0)))
               ELSE
                 greatest(coalesce(end3.nend3, 0) - 0.75, 0.0)
                   / consts.nt
                 + (0.75 * consts.e / consts.nt)
                 * (1.0 / (consts.v + 1.0))
               END) * 1e6) AS BIGINT) AS mic
      FROM tg_s s
      LEFT JOIN c3 ON s.tg = c3.tg
      LEFT JOIN ctx12 ON s.w1 = ctx12.w1 AND s.w2 = ctx12.w2
      LEFT JOIN mid ON s.w2 = mid.w2 AND s.w3 = mid.w3
      LEFT JOIN mid2 ON s.w2 = mid2.w2
      LEFT JOIN end3 ON s.w3 = end3.w3
      CROSS JOIN consts
    )
    SELECT doc_id, count(*) AS n_trigrams,
           CAST(sum(unseen) AS BIGINT) AS n_unseen,
           -(CAST((-2 * sum(mic) + count(*))
                  // (2 * count(*)) AS BIGINT)) / 1e6 AS mean_logprob
    FROM lp GROUP BY doc_id
    """


def q_expectations(spark, sf_dir):
    """Data-quality expectation report (datapipe/validate.py): every rule
    is a conditional count in ONE global aggregate — a single scan, zero
    shuffles — plus the digest-keyed uniqueness row."""
    from pypond_spark.datapipe import validate as dp_val
    ev = _read(spark, sf_dir, "events")
    report = dp_val.expect(ev, {
        "value_not_null": F.col("value").isNotNull(),
        "value_in_range": (F.col("value") >= 0) & (F.col("value") < 10000),
        "known_event_type": F.col("event_type").isin(
            "click", "view", "signup", "purchase", "error"),
        # epoch-ms bounds for calendar-2024 UTC rather than year(ts):
        # year() is session-TZ-ambient in both engines, so the rule would
        # drift under a non-UTC driver environment
        "ts_in_2024": (F.unix_millis("ts") >= 1704067200000)
                      & (F.unix_millis("ts") < 1735689600000),
    })
    uniq = dp_val.expect_unique(ev, "event_id")
    return report.unionByName(uniq)


def q_funnel_signup(spark, sf_dir):
    """Funnel progression signup -> click -> purchase within 7 days of
    signup (operators/funnel.py::funnel_steps): one bounded per-entity
    aggregation per step, each step's events pre-filtered at the scan."""
    ts = _events_ts(spark, sf_dir)
    return ts.funnel(["signup", "click", "purchase"], within="7d")


def q_retention_daily(spark, sf_dir):
    """Daily cohort retention (operators/funnel.py::retention_cohorts):
    first-seen day x activity-day offset matrix, two bounded aggs."""
    ts = _events_ts(spark, sf_dir)
    return ts.retention(period="1d", horizon=30)


def q_rank_normalize(spark, sf_dir):
    """Percent-rank normalization per event_type (operators/rolling.py::
    rank_normalize): distribution-free [0,1] transform, one window
    shuffle on the group key."""
    ts = _events_ts(spark, sf_dir)
    out = ts.rank_normalize("value", partition_by=["event_type"]).df
    return out.select("event_id", "event_type",
                      F.round("value_pr", 6).alias("value_pr"))


def q_winsorize_by_type(spark, sf_dir):
    """Percentile clipping per event_type (operators/rolling.py::
    winsorize): one groups x 2-float aggregation broadcast back — the
    event side never shuffles; sort-based percentiles make every value
    cross-engine exact."""
    ts = _events_ts(spark, sf_dir)
    out = ts.winsorize("value", lower=0.05, upper=0.95,
                       partition_by=["event_type"]).df
    return out.select("event_id", "event_type",
                      F.round("value_w", 6).alias("value_w"),
                      F.round("value_lo", 6).alias("value_lo"),
                      F.round("value_hi", 6).alias("value_hi"))


def q_robust_zscore(spark, sf_dir):
    """Median/MAD modified z-score per event_type (operators/rolling.py
    ::robust_zscore): two bounded aggregations + broadcast joins, every
    statistic sort-based (order-independent, cross-engine exact)."""
    ts = _events_ts(spark, sf_dir)
    out = ts.robust_zscore("value", partition_by=["event_type"]).df
    return out.select("event_id", "event_type",
                      F.round("value_rz", 6).alias("value_rz"),
                      "value_outlier")


def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6 shape (forecast revenue change): pure filter + global
    sum, every predicate pushed to the parquet scan. The money math runs
    in DECIMAL (2dp x 2dp -> exact 4dp products, exact sum) so the
    result is bit-identical cross-engine with no rounding epsilon —
    float sums of ~1e7 magnitude sit too close to 4dp boundaries."""
    li = _read(spark, sf_dir, "lineitem")
    f = li.where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
    rev = F.sum(F.col("l_extendedprice").cast("decimal(12,2)")
                * F.col("l_discount").cast("decimal(12,2)"))
    return f.agg(rev.cast("double").alias("revenue"),
                 F.count("*").alias("n_items"))


def q_tpch_q4_shape(spark, sf_dir):
    """TPC-H Q4 shape (order-priority check) adapted to the testdata
    columns: orders in 1995Q3 with AT LEAST ONE lineitem shipped more
    than 60 days after the order date — a LEFT SEMI join (the EXISTS
    plan: no row multiplication, no distinct), then a tiny priority agg."""
    orders = _read(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-10-01").cast("timestamp")))
    li = _read(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_shipdate")
    late = orders.join(
        li, (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")
           + F.expr("INTERVAL 60 DAYS")), "left_semi")
    return (late.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_orders")))


def q_value_heatmap(spark, sf_dir):
    """Time x value heatmap per day (operators/histogram.py::heatmap):
    map-side floor-binning on both axes, one shuffle bounded by
    days x occupied bins."""
    ts = _events_ts(spark, sf_dir)
    return ts.heatmap("1d", "value", bin_width=50.0)


def q_stream_cumsum(spark, sf_dir):
    """Streaming twin of cumsum_by_user (streaming/stream.py::
    stream_cumulative): running sum/max/count with CONSTANT per-key state
    (four floats per input column), availableNow drain; the sequential
    accumulation order matches the batch ROWS frame, so the DuckDB
    oracle is the identical SQL."""
    from pypond_spark.streaming import stream_cumulative
    sdf = _events_stream(spark, sf_dir)
    out = stream_cumulative(
        sdf, {"v_cum": {"value": "sum"}, "v_runmax": {"value": "max"},
              "n_seen": {"value": "count"}},
        partition_by=["user_id"], tiebreak="event_id",
        carry_cols=["event_id"])
    result = run_available_now(out, "append")
    return result.select("event_id", "user_id", "t_ms",
                         F.round("v_cum", 6).alias("v_cum"),
                         "v_runmax", "n_seen")


def q_assign_splits(spark, sf_dir):
    """Deterministic train/val/test assignment (sampling.py::
    assign_splits): hash-range cut of the unit interval, stable under
    reruns/repartitioning/corpus growth. Zero shuffles."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_sample.assign_splits(
        docs, {"train": 0.98, "val": 0.01, "test": 0.01})
    return out.select("doc_id", "source", "split")


def q_corpus_report(spark, sf_dir):
    """Per-language corpus card (corpus.py::corpus_report): one bounded
    agg + a window over the per-language frame for the share column."""
    docs = _read(spark, sf_dir, "documents")
    return dp_corpus.corpus_report(docs)


def q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail quality split (textstats.py::ccnet_buckets):
    corpus-relative fluency scores cut at the 1/3 and 2/3 quantiles.
    Scores round to 6 decimals BEFORE the quantile so cuts and
    comparisons are cross-engine identical."""
    docs = _read(spark, sf_dir, "documents")
    return dp_text.ccnet_buckets(docs)


def q_stream_align_1h(spark, sf_dir):
    """Streaming twin of align_1h_hold (streaming/stream.py::stream_align):
    boundary synthesis spans micro-batches via (last_ts, last_values)
    state; identical output values, so the DuckDB oracle is the batch
    query's SQL verbatim."""
    from pypond_spark.streaming import stream_align
    sdf = _events_stream(spark, sf_dir)
    out = stream_align(sdf, window="1h", field_spec="value", method="hold",
                       partition_by=["user_id"])
    result = run_available_now(out, "append")
    return result.select("user_id", "t_ms",
                         F.round("value", 6).alias("value"))


def q_stream_fill_pad(spark, sf_dir):
    """Streaming twin of fill_pad_per_user (streaming/stream.py::
    stream_fill): LOCF with one carried double per (key, column),
    availableNow drain. The testdata has zero (user_id, ms) ties (checked
    at sf0.01 and sf0.1), so keying the oracle on (user_id, t_ms) instead
    of event_id is unambiguous."""
    from pypond_spark.streaming import stream_fill
    sdf = _events_stream(spark, sf_dir)
    nulled = sdf.withColumn(
        "value", F.when(F.col("event_type") == "click", F.lit(None))
        .otherwise(F.col("value")))
    out = stream_fill(nulled, field_spec="value", method="pad",
                      partition_by=["user_id"])
    result = run_available_now(out, "append")
    return result.select("user_id", "t_ms",
                         F.round("value", 6).alias("value_filled"))


def q_ewma_scan(spark, sf_dir):
    """Parallel-scan EWMA over ONE unkeyed series (operators/rolling.py::
    ewma_scan, Blelloch affine-map composition): the scale path for a
    single giant series that the keyed recurrence can't partition.
    alpha=0.5 keeps every step an exact IEEE halving AND makes the
    composed (1-alpha)^m products exact powers of two, so the chunked
    two-pass result is bit-identical to the sequential fold the oracle
    runs. Restricted to a few users' events so the oracle's O(n^2)
    prefix fold stays cheap; the Spark path still exercises chunk
    boundaries (32 range chunks over the series)."""
    from pypond_spark.operators import rolling as roll_ops
    df = (_events_df(spark, sf_dir).where(F.col("user_id") <= 5)
          .withColumnRenamed("ts", "time"))
    out = roll_ops.ewma_scan(df, "value", alpha=0.5, tiebreak="event_id")
    return out.select("event_id", _ms().alias("t_ms"), "value_ewma")


def q_monthly_rollup(spark, sf_dir):
    """Calendar monthly rollup (series.py::monthly_rollup -> operators/
    aggregate.py windowed_aggregate, 'monthly' index grammar): one
    partial-aggregable groupBy on months-x-types keys."""
    ts = _events_ts(spark, sf_dir)
    out = ts.monthly_rollup(
        {"value_avg": {"value": "avg"}, "value_max": {"value": "max"},
         "n": {"value": "count"}},
        group_by="event_type")
    return out.df.select("index", "event_type",
                         F.round("value_avg", 6).alias("value_avg"),
                         "value_max", "n")


def q_stream_rate(spark, sf_dir):
    """Streaming twin of rate_per_user (streaming/stream.py::stream_rate):
    (last_ts, last_value) state per key, availableNow drain; identical
    output columns, so the DuckDB oracle is the batch query's SQL."""
    from pypond_spark.streaming import stream_rate
    sdf = _events_stream(spark, sf_dir)
    out = stream_rate(sdf, field_spec="value", partition_by=["user_id"])
    result = run_available_now(out, "append")
    return result.select(
        "user_id", "begin_ms", "end_ms",
        (F.round("value_rate", 6) + F.lit(0.0)).alias("value_rate"))


def q_knn_join(spark, sf_dir):
    """Exact k-NN for a query SET (datapipe/similarity.py::knn_join):
    broadcast nested-loop — the corpus never shuffles; per-query top-k
    via window rank on the q_id partition. round_to=6 pins the rank
    order cross-engine."""
    embs = _read(spark, sf_dir, "embeddings")
    qset = (embs.where(F.col("vec_id") < 3)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_vec")))
    out = dp_sim.knn_join(embs, qset, k=5, round_to=6)
    return out.select("q_id", "vec_id", "cosine", "rank")


def q_cusum_by_type(spark, sf_dir):
    """One-sided CUSUM drift detection per event_type (operators/
    rolling.py::cusum): the sequential max(0, C+x-t-s) recurrence in
    closed form P_k - min(0, running-min P) — two incremental window
    aggregates over ONE hash-partition + sort, no Python, O(1) window
    state. Fixed target keeps both engines' drift sums bit-comparable."""
    from pypond_spark.operators import rolling as roll_ops
    df = _events_df(spark, sf_dir).withColumnRenamed("ts", "time")
    out = roll_ops.cusum(df, "value", target=55.0, slack=1.0,
                         threshold=500.0, partition_by=["event_type"],
                         tiebreak="event_id")
    return out.select("event_id", "event_type",
                      F.round("value_cusum", 6).alias("value_cusum"),
                      "value_alarm")


def q_tpch_q5_shape(spark, sf_dir):
    """TPC-H Q5 shape (local supplier volume): revenue by nation for one
    region-year where supplier and customer share a nation. nation,
    region, supplier, customer all broadcast (small dims); the only
    repartition joins are orders-lineitem on the uniform orderkey.
    DECIMAL money math (see tpch_q6) keeps the per-nation sums exact."""
    orders = _read(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
    li = _read(spark, sf_dir, "lineitem")
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    nat = _read(spark, sf_dir, "nation")
    reg = _read(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1).cast("decimal(12,2)")
              - F.col("l_discount").cast("decimal(12,2)")))
    j = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
         .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
         .join(F.broadcast(cust),
               (F.col("o_custkey") == F.col("c_custkey"))
               & (F.col("c_nationkey") == F.col("s_nationkey")))
         .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
         .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey")))
    return (j.groupBy("n_name")
            .agg(F.sum(rev).cast("double").alias("revenue"),
                 F.count("*").alias("n_items")))


def q_tpch_q14_shape(spark, sf_dir):
    """TPC-H Q14 shape (promotion effect): promo revenue share for one
    month. part broadcasts; lineitem's date filter is pushed to the
    scan; DECIMAL sums -> one exact ratio."""
    li = _read(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    part = _read(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1).cast("decimal(12,2)")
              - F.col("l_discount").cast("decimal(12,2)")))
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev)
                  .otherwise(F.lit(0).cast("decimal(12,2)")))
    total = F.sum(rev)
    return j.agg(
        (F.lit(100.0) * promo.cast("double") / total.cast("double"))
        .alias("promo_revenue_pct"),
        total.cast("double").alias("total_revenue"))


def q_tpch_q18_shape(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): orders whose total
    quantity exceeds 150 — partial-aggregable groupBy on the uniform
    orderkey, then the small surviving set joins orders + broadcast
    customer. Quantities are integral doubles, so the HAVING cut is
    exact."""
    li = _read(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("sum_qty"))
           .where(F.col("sum_qty") > 150))
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
            .select("c_name", "o_orderkey",
                    F.unix_millis("o_orderdate").alias("odate_ms"),
                    F.round("o_totalprice", 2).alias("o_totalprice"),
                    F.round("sum_qty", 2).alias("sum_qty")))


def q_twa_hourly(spark, sf_dir):
    """Trapezoidal integral + time-weighted average per (hour, user)
    (operators/rate.py::integrate): the honest mean of an irregularly
    sampled gauge. One lag window on the series key + one
    partial-aggregable groupBy bounded by hours x users."""
    ts = _events_ts(spark, sf_dir)
    out = ts.integrate("1h", "value", partition_by=["user_id"])
    return out.select("user_id", "begin_ms",
                      F.round("integral", 6).alias("integral"),
                      F.round("twa", 6).alias("twa"), "n_seg")


def q_holt_per_user(spark, sf_dir):
    """Holt double exponential smoothing per user (operators/rolling.py::
    holt, Arrow recurrence): level + linear trend. alpha=beta=0.5 keeps
    every step an exact IEEE halving, so the DuckDB struct-fold oracle
    reproduces both outputs bit-for-bit (no rounding — see
    ewma_per_user)."""
    ts = _events_ts(spark, sf_dir)
    out = ts.holt("value", alpha=0.5, beta=0.5, partition_by=["user_id"],
                  tiebreak="event_id")
    return out.df.select("event_id", "user_id", _ms().alias("t_ms"),
                         "value_level", "value_trend")


def q_stream_holt(spark, sf_dir):
    """Streaming twin of holt_per_user (streaming/stream.py::stream_holt):
    TWO doubles of state per key (level, trend), availableNow drain;
    identical recurrence, so the DuckDB oracle is the batch query's SQL
    verbatim."""
    from pypond_spark.streaming import stream_holt
    sdf = _events_stream(spark, sf_dir)
    out = stream_holt(sdf, "value", alpha=0.5, beta=0.5,
                      partition_by=["user_id"], tiebreak="event_id",
                      carry_cols=["event_id"])
    result = run_available_now(out, "append")
    return result.select("event_id", "user_id", "t_ms",
                         "value_level", "value_trend")


def q_interval_coverage(spark, sf_dir):
    """Per-user union coverage of [ts, ts + value sec) intervals
    (operators/interval.py::coverage over merge_intervals): TimeRange
    union algebra at table scale — the classic sweep as two window
    functions + one groupBy sharing ONE shuffle; pure integer-ms math,
    exact cross-engine."""
    from pypond_spark.operators.interval import coverage
    df = _events_df(spark, sf_dir)
    iv = df.select(
        "user_id", F.col("ts").alias("begin"),
        F.timestamp_millis(
            F.unix_millis("ts")
            + F.floor(F.col("value") * 1000).cast("long")).alias("end"))
    return coverage(iv, partition_by=["user_id"])


def q_cusum_two_sided(spark, sf_dir):
    """Both-sided CUSUM per event_type (operators/rolling.py::cusum,
    side='both'): upper and lower drift statistics share ONE
    hash-partition + sort (four incremental window aggregates, no second
    shuffle); alarm fires on either side."""
    from pypond_spark.operators import rolling as roll_ops
    df = _events_df(spark, sf_dir).withColumnRenamed("ts", "time")
    out = roll_ops.cusum(df, "value", target=55.0, slack=1.0,
                         threshold=500.0, partition_by=["event_type"],
                         tiebreak="event_id", side="both")
    return out.select("event_id", "event_type",
                      F.round("value_cusum", 6).alias("value_cusum"),
                      F.round("value_cusum_dn", 6).alias("value_cusum_dn"),
                      "value_alarm")


def q_psi_drift(spark, sf_dir):
    """Population Stability Index per event_type (datapipe/validate.py::
    psi): value distribution of 2024-H2 events vs 2024-H1 baseline,
    floor-binned at 25. ONE shuffle bounded by types x occupied bins;
    per-type totals broadcast back onto the tiny bin frame."""
    from pypond_spark.datapipe import validate as dp_val
    ev = _events_df(spark, sf_dir)
    out = dp_val.psi(
        ev, "value",
        F.col("ts") >= F.lit("2024-07-01").cast("timestamp"),
        bin_width=25.0, partition_by=["event_type"])
    return out.select("event_type", "bin", "lo", "c_base", "c_cur",
                      F.round("p_base", 6).alias("p_base"),
                      F.round("p_cur", 6).alias("p_cur"),
                      F.round("contrib", 6).alias("contrib"))


def q_rolling_median_10m(spark, sf_dir):
    """Trailing-window exact median + p90 per event (operators/
    rolling.py::_sorted_frame): Spark has no frame form of median/
    percentile, so the frame's values materialize as a sorted array per
    row — same ONE shuffle + sort as every rolling stat; frame size
    bounds the per-row buffer."""
    ts = _events_ts(spark, sf_dir)
    out = ts.rolling("10m", {"med_10m": {"value": "median"},
                             "p90_10m": {"value": ("percentile", 90)}},
                     partition_by=["user_id"])
    return out.df.select(
        "event_id", "user_id", _ms().alias("t_ms"),
        F.round("med_10m", 6).alias("med_10m"),
        F.round("p90_10m", 6).alias("p90_10m"))


def q_sample_weighted(spark, sf_dir):
    """Deterministic weight-proportional Bernoulli sampling (datapipe/
    sampling.py::sample_weighted): keep probability = clamped per-doc
    weight (n_chars / 4000), evaluated as a scan-level md5-hash filter —
    no rand(), zero shuffles, bit-reproducible across engines."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_sample.sample_weighted(
        docs, F.col("n_chars") / F.lit(4000.0), seed=7)
    return out.select("doc_id", "lang", "n_chars")


def q_weighted_take(spark, sf_dir):
    """Exactly-k weighted sampling without replacement per source
    (sampling.py::weighted_take_per_group, Efraimidis-Spirakis A-ES):
    ln(u)/w priorities from the deterministic hash, top-20 per source
    via one window shuffle on the group key."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_sample.weighted_take_per_group(
        docs, k=20, weight="n_chars", group_col="source", seed=7)
    return out.select("doc_id", "source", "n_chars")


def q_pivot_hourly_types(spark, sf_dir):
    """Hourly rollup pivoted wide, one column per event_type (operators/
    aggregate.py::pivot_rollup): conditional aggregates in ONE
    partial-aggregable groupBy on the bucket key — the wire-format
    (column-per-series) shape at long-form rollup cost."""
    ts = _events_ts(spark, sf_dir)
    out = ts.pivot_rollup("1h", "value", "event_type",
                          ["click", "view", "signup", "purchase", "error"],
                          agg="avg")
    return out.df.select(
        "index",
        *[F.round(c, 6).alias(c)
          for c in ["click", "view", "signup", "purchase", "error"]])


def q_wire_roundtrip(spark, sf_dir):
    """Wire-format round trip (wire.py::to_wire/from_wire, SURVEY §2.1):
    events -> pypond wire dict -> back to a DataFrame; the oracle is the
    identity SELECT, so encode/decode must preserve every ms timestamp
    and value bit. Driver-side by design (the wire format IS a
    driver-side interchange dict) — bounded to a few users' events."""
    ts = _events_ts(spark, sf_dir)
    sub = TimeSeries(
        ts.df.where(F.col("user_id") <= 3)
        .select("time", "event_id", "user_id", "event_type", "value"),
        "time", {"name": "rt"})
    back = TimeSeries.from_wire(spark, sub.to_wire())
    return back.df.select("event_id", "user_id", _ms().alias("t_ms"),
                          "event_type", F.round("value", 6).alias("value"))


def q_rollup_missing_filters(spark, sf_dir):
    """Missing-value filter plug-ins in one windowed spec (functions.py
    FILTERS, SURVEY §2.4): zero_missing coalesces invalid samples to 0,
    propagate_missing NULLs any bucket containing one, keep_missing
    counts them — all three as conditional aggregates in the same ONE
    groupBy."""
    ts = TimeSeries(_nullified(spark, sf_dir), "time", {"name": "nulled"})
    out = ts.fixed_window_rollup(
        "1h",
        {"v_zero": {"value": ("avg", "zero_missing")},
         "v_prop": {"value": ("sum", "propagate_missing")},
         "n_keep": {"value": ("count", "keep_missing")}})
    return out.df.select("index",
                         F.round("v_zero", 6).alias("v_zero"),
                         F.round("v_prop", 6).alias("v_prop"), "n_keep")


def q_custom_reducer_midrange(spark, sf_dir):
    """Custom callable reducer (functions.py::_callable_agg_col, SURVEY
    §2.10): an opaque Python fn(values)->scalar runs as a pandas
    grouped-agg UDAF inside the hourly grouped rollup; the midrange
    reducer has an exact SQL twin, so even the UDAF path gets a
    hash-verified driver row. Daily buckets: the pandas UDAF pays a
    per-GROUP Arrow round trip (measured 5.3s at hours x types = 3385
    groups vs ~1s at days x types — the documented slow path; group
    count, not row count, is its cost driver)."""
    ts = _events_ts(spark, sf_dir)
    out = ts.fixed_window_rollup(
        "1d",
        {"mid": {"value": (lambda vs: (min(vs) + max(vs)) / 2.0)},
         "n": {"value": "count"}},
        group_by="event_type")
    return out.df.select("index", "event_type",
                         F.round("mid", 6).alias("mid"), "n")


def q_groupby_callable(spark, sf_dir):
    """group_by(python fn) (plans/pipeline.py::group_by, SURVEY §2.5):
    the Arrow-batched derived '__group' column drives the same grouped
    rollup as a named column; the fn mirrors a SQL expression, so the
    slow-path grouping gets an oracle row."""
    from pypond_spark import Pipeline
    ts = _events_ts(spark, sf_dir)
    out = (Pipeline().from_source(ts)
           .group_by(lambda ev: f"u{ev['user_id'] % 3}")
           .window_by("1h")
           .aggregate({"v_sum": {"value": "sum"}, "n": {"value": "count"}})
           .to_dataframe())
    return out.select("index", F.col("__group").alias("grp"),
                      F.round("v_sum", 6).alias("v_sum"), "n")


def q_as_indexed_events(spark, sf_dir):
    """Event -> IndexedEvent conversion (operators/convert.py::
    events_to_indexed_events, SURVEY §2.8): pure bucket arithmetic at
    scan speed, zero shuffles."""
    from pypond_spark.operators import convert as convert_ops
    df = _events_df(spark, sf_dir).withColumnRenamed("ts", "time")
    out = convert_ops.events_to_indexed_events(df, "1h")
    return out.select("index", F.unix_millis("begin").alias("begin_ms"),
                      F.unix_millis("end").alias("end_ms"), "event_id",
                      F.round("value", 6).alias("value"))


def q_filter_map_callable(spark, sf_dir):
    """Per-event Python filter + map (operators/events.py, SURVEY §2.10):
    Arrow-batched mapInPandas adapters whose lambdas mirror SQL
    expressions, giving the per-event-callable path a hash-verified
    row."""
    ts = _events_ts(spark, sf_dir)
    out = (ts.filter(lambda ev: (ev.get("value") or 0.0) > 50.0)
           .map(lambda ev: {"event_id": ev.get("event_id"),
                            "v2": ev.get("value") * 2.0},
                schema="time timestamp, event_id long, v2 double"))
    return out.df.select("event_id", _ms().alias("t_ms"),
                         F.round("v2", 6).alias("v2"))


def q_fill_pad_max_gap(spark, sf_dir):
    """Time-limited LOCF (operators/fill.py max_gap, engine addition):
    carry a value only while the row is within 2h of its anchoring valid
    sample — the staleness bound the count-based fill_limit can't
    express on irregular data. Same one-window shuffle as plain pad."""
    ts = TimeSeries(_nullified(spark, sf_dir), "time", {"name": "nulled"})
    out = ts.fill(field_spec="value", method="pad",
                  partition_by=["user_id"], max_gap="2h")
    return out.df.select("event_id", "user_id",
                         F.round("value", 6).alias("value_filled"))


def q_rolling_robust_z_1h(spark, sf_dir):
    """Trailing-1h median/MAD modified z-score per user (operators/
    rolling.py::rolling_robust_zscore): the frame's sorted array
    materializes once per row; med and MAD are exact interpolated
    quantiles of it, so the whole score is reproducible cross-engine."""
    ts = _events_ts(spark, sf_dir)
    out = ts.rolling_robust_zscore("1h", "value",
                                   partition_by=["user_id"])
    return out.df.select("event_id", "user_id", _ms().alias("t_ms"),
                         F.round("value_rrz", 6).alias("value_rrz"),
                         "value_outlier")


def q_repeated_spans(spark, sf_dir):
    """Exact repeated-substring spans across docs (datapipe/dedup.py::
    repeated_spans, the Lee et al. substring-dedup span step): k-gram
    rolling fingerprints -> cross-doc duplicate hashes -> per-doc
    interval merge. Corpus-chars-sized explode on uniform hash keys —
    the problem's inherent size, never all-pairs."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_dedup.repeated_spans(docs, k=30)
    return out.select("doc_id", "span_start", "span_end", "span_len",
                      "n_grams")


def q_tpch_q10_shape(spark, sf_dir):
    """TPC-H Q10 shape (returned-item revenue by customer): lineitem
    filtered to returns at the scan, one repartition join on the uniform
    orderkey, customer + nation broadcast; DECIMAL money math (see
    tpch_q6)."""
    li = _read(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _read(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp")))
    cust = _read(spark, sf_dir, "customer")
    nat = _read(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1).cast("decimal(12,2)")
              - F.col("l_discount").cast("decimal(12,2)")))
    j = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
         .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
         .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey")))
    return (j.groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
            .agg(F.sum(rev).cast("double").alias("revenue"),
                 F.count("*").alias("n_items"))
            .select("c_custkey", "c_name", "n_name",
                    F.round("c_acctbal", 2).alias("c_acctbal"),
                    "revenue", "n_items"))


def q_tpch_q19_shape(spark, sf_dir):
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates):
    three OR'd brand/size/quantity branches evaluated after ONE
    broadcast join — Catalyst pushes the shared l_quantity bounds to the
    lineitem scan and the disjunction never forces a second pass."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part").select("p_partkey", "p_brand",
                                               "p_size")
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1).cast("decimal(12,2)")
              - F.col("l_discount").cast("decimal(12,2)")))
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10)
         & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 11))
        | ((F.col("p_brand") == "Brand#15") & (F.col("p_size") <= 20)
           & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 30)
           & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 30)))
    return (j.where(cond)
            .agg(F.sum(rev).cast("double").alias("revenue"),
                 F.count("*").alias("n_items")))


def q_strip_spans(spark, sf_dir):
    """Substring-dedup removal step (datapipe/dedup.py::strip_spans):
    cut every cross-doc repeated span out of the text; the md5 of the
    cleaned text must match a pure-SQL segment reassembly, verifying the
    Arrow string surgery byte-for-byte."""
    docs = _read(spark, sf_dir, "documents")
    spans = dp_dedup.repeated_spans(docs, k=30)
    out = dp_dedup.strip_spans(docs, spans)
    return out.select("doc_id", F.md5("text_clean").alias("clean_md5"),
                      "n_cut")


def q_trend_per_user(spark, sf_dir):
    """Per-series OLS trend (operators/correlate.py::trend): slope +
    intercept per user in value-units/hour, times shifted to each
    series' start so the sums stay well-conditioned; ONE exchange feeds
    both the shift window and the 5-sum aggregation."""
    from pypond_spark.operators.correlate import trend
    df = _events_df(spark, sf_dir).withColumnRenamed("ts", "time")
    out = trend(df, "value", partition_by=["user_id"], time_unit="1h")
    return out.select("user_id", F.round("slope", 6).alias("slope"),
                      F.round("intercept", 6).alias("intercept"), "n")


def q_lexical_stats(spark, sf_dir):
    """Per-doc lexical diversity (datapipe/textstats.py::lexical_stats):
    token/type counts, TTR, hapax share — one (doc, token) shuffle with
    map-side partial counts, doc agg reuses the partitioning."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_text.lexical_stats(docs)
    return out.select("doc_id", "n_tokens", "n_types",
                      F.round("ttr", 6).alias("ttr"),
                      F.round("hapax_share", 6).alias("hapax_share"))


def q_zipf_slope(spark, sf_dir):
    """Corpus Zipf fit (textstats.py::zipf_slope): OLS of ln freq vs ln
    rank over the vocabulary-bounded frequency table; healthy corpora
    sit near -1."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_text.zipf_slope(docs)
    return out.select(F.round("slope", 6).alias("slope"),
                      F.round("intercept", 6).alias("intercept"),
                      F.col("vocab").cast("long").alias("vocab"),
                      F.col("n_tokens").cast("long").alias("n_tokens"))


# Shared ANN model cache (verdict r4 item 6): pq_codes / pq_topk_adc /
# ivfpq_topk / ann_ivf each need the same deterministic k-means artifacts;
# building them once per (sf_dir, params) saves ~2.5-4s per query in the
# bench without changing any query's semantics (the build is deterministic,
# so a cached codebook is bit-identical to a rebuilt one).  Keys include a
# data fingerprint (parquet file names + mtimes + sizes) so regenerating
# the parquet at a path mid-process invalidates the cache (r5 ADVICE).
_ANN_CACHE: dict = {}


def _data_fingerprint(sf_dir: str, table: str) -> tuple:
    """(name, mtime_ns, size) of each data file under the table's parquet
    path — cheap (one listdir), and changes whenever the data does."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(path):
            entries = sorted(os.scandir(path), key=lambda e: e.name)
            return tuple((e.name, e.stat().st_mtime_ns, e.stat().st_size)
                         for e in entries if e.is_file())
        st = os.stat(path)
        return ((os.path.basename(path), st.st_mtime_ns, st.st_size),)
    except OSError:
        return ()


def _pq_books(spark, sf_dir):
    """PQ codebooks (similarity.py::pq_build — one BLAS Lloyd pass per
    round, quantize=6 pins the means), memoized per sf_dir. The DuckDB
    oracle recomputes the same k-means in its own SQL (_PQ_BODY)."""
    emb = _read(spark, sf_dir, "embeddings")
    key = ("pq_books", sf_dir,
           _data_fingerprint(sf_dir, "embeddings"))
    if key not in _ANN_CACHE:
        _ANN_CACHE[key] = dp_sim.pq_build(
            emb, n_blocks=8, n_codes=16, n_iters=2, dim=64, quantize=6)
    return emb, _ANN_CACHE[key]


def _ivf_cents(spark, sf_dir, emb=None):
    """IVF centroids (8 cells, 2 rounds, quantize=6), memoized per sf_dir."""
    if emb is None:
        emb = _read(spark, sf_dir, "embeddings")
    key = ("ivf_cents", sf_dir,
           _data_fingerprint(sf_dir, "embeddings"))
    if key not in _ANN_CACHE:
        _ANN_CACHE[key] = dp_sim.ivf_build(emb, n_cells=8, n_iters=2,
                                           quantize=6)
    return _ANN_CACHE[key]


def q_pq_codes(spark, sf_dir):
    """Product-quantization encode (datapipe/similarity.py::pq_build +
    pq_encode — BLAS matmuls per Arrow batch): 64-dim float vectors ->
    8 one-byte codes against per-block k-means codebooks (seeds = first
    16 vectors, 2 Lloyd rounds, quantize=6). The oracle recomputes the
    identical k-means in SQL (per-block assign/means CTEs), so every code
    of every vector is verified — the write path of a memory-bounded ANN
    index."""
    emb, books = _pq_books(spark, sf_dir)
    out = dp_sim.pq_encode(emb, books)
    # BIGINT codes: the Arrow path emits int32, the oracle BIGINT — the
    # driver hash is width-insensitive (14 green int32 queries prove it)
    # but this row has never had a driver slot, so don't bet on it
    return out.select("vec_id", *[F.col(f"code{b}").cast("long")
                                  .alias(f"code{b}") for b in range(8)])


def q_pq_topk_adc(spark, sf_dir):
    """PQ asymmetric-distance top-k (datapipe/similarity.py::pq_topk,
    whose encode is the BLAS pq_encode): the query stays
    full-precision, the corpus is 8 code bytes per row, scoring is table
    lookups + an 8-term add — the bandwidth shape that makes
    billion-vector ANN fit in memory. Rounded distances + id tiebreak
    pin the ranking cross-engine."""
    emb, books = _pq_books(spark, sf_dir)
    q = [float(x) for x in
         emb.where(F.col("vec_id") == 1).first()["embedding"]]
    out = dp_sim.pq_topk(emb, q, books, k=5)
    return out.select("rank", "vec_id", "adc")


def q_rollup_7d(spark, sf_dir):
    """Multi-day fixed window ("7d"): the index grammar's arbitrary
    fixed durations beyond the calendar kinds — same one-shuffle
    partial-agg plan as every fixed rollup, epoch-anchored buckets."""
    ts = _events_ts(spark, sf_dir)
    out = ts.fixed_window_rollup(
        "7d", {"v_sum": {"value": "sum"}, "v_max": {"value": "max"},
               "n": {"value": "count"}}, group_by="event_type")
    return out.df.select("index", "event_type",
                         F.round("v_sum", 6).alias("v_sum"),
                         "v_max", "n")


def q_session_duration_stats(spark, sf_dir):
    """Session-length distribution (the product metric on top of
    session_window_rollup): duration percentiles, events/session, and
    single-event-session share over all user sessions — one session
    assignment pass + an aggregation over the session-sized frame."""
    ts = _events_ts(spark, sf_dir)
    sess = ts.session_window_rollup(
        "1h", {"n": {"value": "count"}}, group_by="user_id").df
    dur = (F.unix_millis("end") - F.unix_millis("begin")) / F.lit(1000.0)
    return sess.agg(
        F.count("*").alias("n_sessions"),
        F.round(F.percentile(dur, 0.5), 6).alias("dur_p50"),
        F.round(F.percentile(dur, 0.9), 6).alias("dur_p90"),
        F.round(F.avg("n"), 6).alias("events_per_session"),
        F.round(F.avg(F.when(F.col("n") == 1, 1.0).otherwise(0.0)), 6)
        .alias("single_event_share"))


def q_user_lifetimes(spark, sf_dir):
    """Per-user lifetime metrics (first/last seen, span, active days,
    events per active day): one partial-aggregable groupBy on the
    uniform user key; active days via count_distinct of the day
    bucket."""
    df = _events_df(spark, sf_dir)
    day = F.floor(F.unix_millis("ts") / F.lit(86400000))
    return (df.groupBy("user_id")
            .agg(F.min(F.unix_millis("ts")).alias("first_ms"),
                 F.max(F.unix_millis("ts")).alias("last_ms"),
                 F.count("*").alias("n_events"),
                 F.count_distinct(day).alias("active_days"))
            .withColumn("span_days",
                        F.round((F.col("last_ms") - F.col("first_ms"))
                                / F.lit(86400000.0), 6))
            .withColumn("events_per_active_day",
                        F.round(F.col("n_events")
                                / F.col("active_days").cast("double"), 6)))


def q_langid_confusion(spark, sf_dir):
    """Classifier evaluation at corpus scale: confusion matrix of the
    stopword language-ID heuristic against the table's labeled lang
    column, with per-actual-language recall — the quality report that
    decides whether a cheap classifier is good enough before a 100 TB
    labeling pass. One doc-keyed join + a languages^2-sized groupBy."""
    docs = _read(spark, sf_dir, "documents")
    pred = dp_text.language_id(docs).select("doc_id", "lang_pred")
    from pyspark.sql import Window
    cm = (docs.select("doc_id", F.col("lang").alias("actual"))
          .join(pred, "doc_id")
          .groupBy("actual", "lang_pred")
          .agg(F.count("*").alias("n")))
    tot = F.sum("n").over(Window.partitionBy("actual"))
    return cm.select("actual", "lang_pred", "n",
                     F.round(F.col("n") / tot, 6).alias("recall_share"))


def q_strip_html(spark, sf_dir):
    """HTML -> text extraction (textstats.py::strip_html): each doc is
    wrapped in-plan in a synthetic HTML page (script+style subtrees, a
    heading, a comment, entities), then stripped by the pure
    regexp_replace chain — JVM codegen, no UDF.  Every pattern is
    RE2-and-Java compatible (no backreferences — one pattern per
    subtree tag — (?is) inline flags), so the oracle replays the chain
    verbatim on the same wrap."""
    docs = _read(spark, sf_dir, "documents")
    wrapped = docs.select("doc_id", F.concat(
        F.lit('<html><head><script src="a.js">var x=1;</script>'
              '<style>.c{}</style></head><body><h1>'),
        F.substring("text", 1, 20),
        F.lit("</h1><p>"), F.col("text"),
        F.lit(' &amp; more&nbsp;&lt;tags&gt;</p><!-- hidden -->'
              "<br></body></html>")).alias("text"))
    out = dp_text.strip_html(wrapped)
    return out.select("doc_id", F.md5("text").alias("text_digest"),
                      F.length("text").alias("n_chars"))


def q_strip_markdown(spark, sf_dir):
    """Markdown -> text (textstats.py::strip_markdown — r14, the
    GitHub/README slice of a crawl corpus): each doc is wrapped
    in-plan in a markdown scaffold exercising every rule (ATX
    header, bold/italic/inline-code/strike, fenced block, quote,
    bullet + ordered list, inline/image/reference links + link def,
    table with separator row, horizontal rule), then stripped by the
    pure regexp_replace chain — JVM codegen, no UDF, every pattern
    RE2-and-Java compatible so the oracle replays the chain with \\1
    replacements."""
    docs = _read(spark, sf_dir, "documents")

    def h(tag):
        return F.md5(F.concat(F.col("text"), F.lit(tag)))

    nl = F.lit("\n")
    wrapped = docs.select("doc_id", F.concat(
        F.lit("# Title "), F.substring("text", 1, 20), nl, nl,
        F.lit("**"), h("&mb"), F.lit("** and *"), h("&mi"),
        F.lit("* and `"), h("&mc"), F.lit("` and ~~"), h("&ms"),
        F.lit("~~"), nl, nl,
        F.lit("```py\ncode "), h("&mf"), F.lit("\n```"), nl, nl,
        F.lit("> quoted "), h("&mq"), nl, nl,
        F.lit("- li1\n12. li2"), nl, nl,
        F.lit("[a "), h("&ml"),
        F.lit("](http://x) ![alt](i.png) [r][1]"), nl,
        F.lit("[1]: http://example.com"), nl, nl,
        F.lit("| c1 | "), h("&mt"), F.lit(" |\n|---|---|\n"
                                          "| v1 | v2 |"), nl, nl,
        F.lit("---\ntail "), F.col("text")).alias("text"))
    out = dp_text.strip_markdown(wrapped)
    return out.select("doc_id", F.md5("text").alias("text_digest"),
                      F.length("text").alias("n_chars"))


def q_strip_latex(spark, sf_dir):
    """LaTeX -> text (textstats.py::strip_latex — r14, the arXiv
    slice of a pretraining corpus): each doc is wrapped in-plan in a
    LaTeX scaffold exercising every rule (preamble, nested
    title/emph/textbf, % comment, \\%-class escapes, accent forms,
    tilde, inline + $$ + \\[..\\] + equation* math, cite/href,
    itemize with plain and optional-arg items, \\\\ line break,
    verbatim body, literal \\{..\\}), then stripped by the pure
    regexp_replace chain — JVM codegen, no UDF, every pattern
    RE2-and-Java compatible (no lookaround, no pattern backrefs) so
    the oracle replays the chain with \\1 replacements."""
    docs = _read(spark, sf_dir, "documents")

    def h(tag):
        return F.md5(F.concat(F.col("text"), F.lit(tag)))

    return _latex_stripped(docs).select(
        "doc_id", F.md5("text").alias("text_digest"),
        F.length("text").alias("n_chars"))


def _latex_stripped(docs):
    """The q_strip_latex scaffold stripped to text — shared by the
    digest row and the quality composition."""
    def h(tag):
        return F.md5(F.concat(F.col("text"), F.lit(tag)))

    wrapped = docs.select("doc_id", F.concat(
        F.lit("\\documentclass[11pt]{article}\n"
              "\\usepackage{amsmath}\n"
              "\\title{T \\emph{\\textbf{"), h("&lt"),
        F.lit("}}}\n% comment "), h("&lc"),
        F.lit("\n\\begin{document}\n\\maketitle\n"
              "\\section*{S "), h("&ls"),
        F.lit("}\nM\\\"uller and \\'e and tilde~space and 100\\% "
              "and A\\&B and \\_u\\_ and \\$9 and \\{lit\\}.\n"
              "Inline $x^2$ and $$"), h("&ld"),
        F.lit("$$ and \\["), h("&lm"),
        F.lit("\\] and\n\\begin{equation*}"), h("&le"),
        F.lit("\\end{equation*}\n\\cite{k"), h("&lr"),
        F.lit("} \\href{http://x}{anchor "), h("&lh"),
        F.lit("}\n\\begin{itemize}\n\\item item "), h("&li"),
        F.lit("\n\\item[*] starred\n\\end{itemize}\n"
              "broken \\\\ line\n\\begin{verbatim}\nverb "), h("&lv"),
        F.lit("\n\\end{verbatim}\ntail "), F.col("text"),
        F.lit("\n\\end{document}")).alias("text"))
    return dp_text.strip_latex(wrapped)


def q_latex_quality_pipeline(spark, sf_dir):
    """Composition row (r14): the arXiv corpus-build path — LaTeX
    markup stripped by the pure-JVM chain, feeding the Gopher
    quality rules directly.  The oracle replays the 30-step ladder
    into a CTE and applies the same metric SQL the standing
    gopher_quality row uses, so extraction drift OR metric drift
    breaks the row."""
    docs = _read(spark, sf_dir, "documents")
    return dp_text.gopher_quality(_latex_stripped(docs))


def _ipynb_scaffold(docs):
    """Per-doc nbformat-4 JSON exercising both ``source`` spellings
    (list-of-lines AND plain string), a raw cell, stream outputs, and
    kernelspec metadata.  Built by string concat — NOT ``to_json`` —
    so the DuckDB oracle can price every byte symbolically without a
    JSON engine of its own."""
    def h(tag):
        return F.md5(F.concat(F.col("text"), F.lit(tag)))

    return docs.select("doc_id", F.concat(
        F.lit('{"cells":[{"cell_type":"markdown","source":["# T '),
        h("&n1"), F.lit('\\n","body '), h("&n2"),
        F.lit('"]},{"cell_type":"code","execution_count":1,'
              '"source":["x = 1\\n","print(\''), h("&n3"),
        F.lit('\')"],"outputs":[{"output_type":"stream","text":'
              '["out\\n"]}]},{"cell_type":"raw","source":"raw '),
        h("&n4"),
        F.lit('"},{"cell_type":"code","metadata":{},"source":'
              '"y = '), F.col("doc_id").cast("string"),
        F.lit('"}],"metadata":{"kernelspec":{"name":"python3",'
              '"language":"python"}},"nbformat":4,'
              '"nbformat_minor":5}')).alias("content"))


def q_ipynb_cells(spark, sf_dir):
    """Notebook -> one row per cell (notebook.py::ipynb_cells — r14,
    the code-corpus slice): each doc becomes an nbformat-4 JSON blob
    in-plan (markdown cell with list-of-lines source, code cell with
    outputs, raw cell and a second code cell both using the PLAIN
    STRING source spelling), then parse_json lifts it to VARIANT and
    posexplode yields document-ordered cells — pure JVM, zero Python,
    zero shuffle.  The oracle never parses JSON: it rebuilds each
    expected cell from the same scaffold identities."""
    nb = _ipynb_scaffold(_read(spark, sf_dir, "documents"))
    out = dp_nb.ipynb_cells(nb)
    return out.select("doc_id", "cell_idx", "cell_type",
                      F.md5("source").alias("src_digest"), "n_chars")


def q_ipynb_text_extract(spark, sf_dir):
    """Notebook -> one text row (notebook.py::ipynb_text — r14):
    markdown + code sources in document order joined by blank lines
    (raw cells excluded by the nbconvert convention), plus cell-type
    counts and kernelspec language — all higher-order array functions
    over the VARIANT, no explode, no shuffle."""
    nb = _ipynb_scaffold(_read(spark, sf_dir, "documents"))
    out = dp_nb.ipynb_text(nb)
    return out.select("doc_id", F.md5("text").alias("text_digest"),
                      F.length("text").alias("n_chars"), "n_cells",
                      "n_code", "n_markdown", "language", "nbformat")


def q_code_stats(spark, sf_dir):
    """Per-file code-shape statistics (code.py::code_stats — r14,
    the StarCoder/The-Stack filter family): each doc is prefixed
    in-plan with a code scaffold exercising every counter (shebang,
    # and // and block comments, a blank line, a 64-char base64 run,
    an @generated marker), then the scan-level counters run — all
    exact integers, one project over the scan, zero Python.  The
    oracle replays every higher-order reduction with DuckDB list
    functions over the same composed text."""
    docs = _read(spark, sf_dir, "documents")

    def h(tag):
        return F.md5(F.concat(F.col("text"), F.lit(tag)))

    wrapped = docs.select("doc_id", F.concat(
        F.lit("#!/usr/bin/env python\n# header "), h("&c1"),
        F.lit("\n// c-style\n/* block */\n \t\nblob "), h("&c2"),
        h("&c3"),
        F.lit("\n<!-- xml comment -->\n"
              "x = 1  # @generated marker\ntail "),
        F.col("text")).alias("text"))
    out = dp_code.code_stats(wrapped)
    return out.select("doc_id", "n_lines", "n_blank_lines",
                      "n_comment_lines", "max_line_len",
                      "total_line_len", "n_chars", "n_alnum",
                      "n_blob_runs", "has_autogen")


def q_license_detect(spark, sf_dir):
    """License triage (code.py::license_detect — r14): doc_id picks
    one of ten headers (two SPDX tags, seven classic phrases, one
    bare) prepended in-plan; detection scans the composed head, SPDX
    tag winning over phrases.  The oracle replays the same
    extract-then-CASE over the same composed text — NOT the symbolic
    answer key — so a phrase that happens to occur in the underlying
    document body is priced identically on both sides."""
    docs = _read(spark, sf_dir, "documents")
    hdr = (F.when(F.col("doc_id") % 10 == 0,
                  "SPDX-License-Identifier: MIT\n")
           .when(F.col("doc_id") % 10 == 1,
                 "SPDX-License-Identifier: GPL-3.0-only\n")
           .when(F.col("doc_id") % 10 == 2,
                 "Apache License\n   Version 2.0\n")
           .when(F.col("doc_id") % 10 == 3, "MIT License\n")
           .when(F.col("doc_id") % 10 == 4,
                 "GNU General Public License\n")
           .when(F.col("doc_id") % 10 == 5,
                 "Mozilla Public License\n")
           .when(F.col("doc_id") % 10 == 6,
                 "Redistribution and use in source and binary "
                 "forms\n")
           .when(F.col("doc_id") % 10 == 7,
                 "This is free and unencumbered software\n")
           .when(F.col("doc_id") % 10 == 8,
                 "GNU Lesser General Public License\n")
           .otherwise(""))
    wrapped = docs.select(
        "doc_id", F.concat(hdr, F.col("text")).alias("text"))
    out = dp_code.license_detect(wrapped)
    # tri-state permissive flattens to false-when-unknown here only
    # because the driver compare treats NULL booleans as NaN floats
    return out.select("doc_id", "license",
                      F.coalesce("permissive", F.lit(False))
                       .alias("permissive"))


def _chat_scaffold(docs):
    """Per-doc messages-shape JSON in one of four shapes keyed by
    ``doc_id % 4`` — (0) no system turn, (1) system + clean
    alternation, (2) system + a doubled assistant turn (alternation
    broken), (3) a dangling trailing user turn (ends on the wrong
    side).  Built by string concat so the oracle prices every byte
    symbolically."""
    m = F.col("doc_id") % 4

    def h(tag):
        return F.md5(F.concat(F.col("text"), F.lit(tag)))

    sys_part = F.when(m.isin(1, 2), F.concat(
        F.lit('{"role":"system","content":"sys '), h("&s0"),
        F.lit('"},'))).otherwise(F.lit(""))
    extra = (F.when(m == 2, F.concat(
                F.lit(',{"role":"assistant","content":"extra '),
                h("&x5"), F.lit('"}')))
             .when(m == 3, F.concat(
                F.lit(',{"role":"user","content":"tail '),
                h("&x5"), F.lit('"}')))
             .otherwise(F.lit("")))
    body = F.concat(
        F.lit('{"messages":['), sys_part,
        F.lit('{"role":"user","content":"q1 '), h("&u1"),
        F.lit('"},{"role":"assistant","content":"a1 '), h("&a1"),
        F.lit('"},{"role":"user","content":"q2 '), h("&u2"),
        F.lit('"},{"role":"assistant","content":"a2 '), h("&a2"),
        F.lit('"}'), extra, F.lit(']}'))
    return docs.select("doc_id", body.alias("content"))


def q_chat_turns(spark, sf_dir):
    """Conversation -> one row per message (chat.py::chat_turns —
    r14, the SFT-corpus slice): Spark parses the messages JSON via
    VARIANT and posexplode preserves turn order; the oracle never
    parses — it rebuilds each expected turn from the scaffold shape
    key."""
    t = dp_chat.chat_turns(
        _chat_scaffold(_read(spark, sf_dir, "documents")))
    return t.select("doc_id", "turn_idx", "role",
                    F.md5("content").alias("content_digest"),
                    "n_chars")


def q_chat_stats(spark, sf_dir):
    """Per-conversation SFT shape filters (chat.py::chat_stats —
    r14): turn counts, leading-system flag, strict user/assistant
    alternation after the optional system turn, ends-on-assistant,
    per-side content volume — all higher-order array functions over
    the VARIANT, no explode, no shuffle."""
    return dp_chat.chat_stats(
        _chat_scaffold(_read(spark, sf_dir, "documents")))


def q_chat_render(spark, sf_dir):
    """Conversation -> ChatML training string (chat.py::chat_render
    — r14): transform + array_join over the VARIANT; the template is
    a string identity so the oracle rebuilds the exact rendered
    bytes per shape key."""
    r = dp_chat.chat_render(
        _chat_scaffold(_read(spark, sf_dir, "documents")))
    return r.select("doc_id", F.md5("text").alias("text_digest"),
                    F.length("text").alias("n_chars"))


def q_extract_content(spark, sf_dir):
    """Main-content extraction beyond tag-stripping
    (textstats.py::extract_content — the jusText-class block scorer):
    each doc becomes a synthetic page with REAL chrome (nav links,
    cookie banner, footer) around the doc text as article prose; the
    block rules (short / link-density > 1/3 / stopword share >= 1/4 /
    near-good length — all integer cross-mults) keep the prose and
    drop the chrome.  The oracle replays the whole chain: block split,
    per-block text + anchor-text lengths, the rule CASE, and ordered
    reassembly."""
    docs = _read(spark, sf_dir, "documents")
    wrapped = docs.select("doc_id", F.concat(
        F.lit('<html><head><title>T</title><script>var x=1;</script>'
              '</head><body><nav><ul><li><a href="/">Home</a></li>'
              '<li><a href="/about">About us</a></li>'
              '<li><a href="/contact">Contact</a></li></ul></nav>'
              '<div class="cookie">We use cookies. '
              '<a href="#">Accept</a> <a href="#">Decline</a></div>'
              '<article><h1>'),
        F.substring("text", 1, 20),
        F.lit("</h1><p>"), F.col("text"),
        F.lit('</p></article><footer><a href="/p">Privacy</a> | '
              '<a href="/t">Terms</a> | (c) 2026</footer>'
              "</body></html>")).alias("text"))
    out = dp_text.extract_content(wrapped)
    return out.select("doc_id",
                      F.col("n_blocks").cast("long").alias("n_blocks"),
                      F.col("n_content").cast("long")
                      .alias("n_content"),
                      F.md5("text").alias("text_digest"),
                      F.length("text").alias("n_chars"))


def _synth_urls(docs):
    """Deterministic messy URLs per doc: uppercase scheme/host,
    userinfo, default ports, tracking params, unsorted params and
    fragments on even ids; a second shape on odd ids — every
    normalization rule has work to do, and every piece is a plain
    string function of doc_id, so the oracle rebuilds both the input
    AND the expected canonical form directly."""
    d = F.col("doc_id")
    even = (d % 2 == 0)
    url = F.when(even, F.concat(
        F.lit("HTTP://User:pw@WWW.Ex"), (d % 7).cast("string"),
        F.lit(".CO.UK:80/p/"), d.cast("string"),
        F.lit("?utm_source=x&b="), (d % 5).cast("string"),
        F.lit("&a=1#frag"))).otherwise(F.concat(
            F.lit("https://Blog.Ex"), (d % 7).cast("string"),
            F.lit(".com:443/q/"), d.cast("string"),
            F.lit("?gclid=9")))
    return _spread(docs).select("doc_id", url.alias("url"))


def q_warc_responses(spark, sf_dir):
    """WARC container ingest (datapipe/warc.py — the format crawl
    corpora actually arrive in): each doc becomes a 3-record WARC
    (warcinfo + response + metadata) whose response block is an
    HTTP/1.1 envelope around the doc text WITH an embedded blank line
    — Content-Length framing must carry the parse past it (newline
    splitting would mis-frame every later record).  warc_responses
    keeps response records and strips the envelope; the oracle
    rebuilds uri/payload/lengths from doc_id and text with plain
    string functions."""
    from pypond_spark.datapipe import warc as dp_warc
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    # HTTP envelope: 17 + 25 + 2 = 44 chars before the entity body;
    # body = text + CRLFCRLF + trailer (corpus text is ASCII, so char
    # length == byte length and the oracle's length() matches)
    body_len = F.length("text") + F.lit(44 + 4 + 7)
    warc = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: warcinfo\r\n"
              "Content-Length: 5\r\n\r\nnote!\r\n\r\n"
              "WARC/1.0\r\nWARC-Type: response\r\n"
              "WARC-Target-URI: http://ex"),
        (d % 7).cast("string"), F.lit(".com/"), d.cast("string"),
        F.lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"
              "Content-Type: application/http\r\nContent-Length: "),
        body_len.cast("string"),
        F.lit("\r\n\r\nHTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
              "\r\n"),
        F.col("text"), F.lit("\r\n\r\ntrailer"),
        F.lit("\r\n\r\nWARC/1.0\r\nWARC-Type: metadata\r\n"
              "Content-Length: 2\r\n\r\nxy\r\n\r\n"))
    src = docs.select("doc_id", warc.alias("warc"))
    out = dp_warc.warc_responses(src)
    return out.select("doc_id",
                      F.col("record_no").cast("long").alias("record_no"),
                      "target_uri", "content_length",
                      F.md5("payload").alias("payload_digest"))


def q_stream_tar_ingest(spark, sf_dir):
    """Streaming multimodal shard ingest (r14, the streaming twin of
    tar_shard_ingest): readStream binaryFile over a directory of
    REAL tar shards (the _synth_tar recipe, one shard file per doc,
    odd docs gzipped) -> read_tar_members parses partition-local
    inside the micro-batch (mapInPandas composes with Structured
    Streaming unchanged) -> stream_first_seen dedup gate keyed on
    member-content digest.  The rotating single-char cls members
    collide across shards BY CONSTRUCTION, so the gate suppresses
    real duplicates (~40%% of cls rows); the batch twin is min-order
    per distinct content.  maxFilesPerTrigger is pinned above the
    shard count so one availableNow batch sees every file — the
    min-order tie-break is then deterministic."""
    import os
    import shutil
    import tempfile
    import uuid

    from pypond_spark.datapipe.tarshard import read_tar_members
    from pypond_spark.streaming.stream import stream_first_seen

    docs = _read(spark, sf_dir, "documents")

    # file-fixture cache, same key law as _cached_media
    root = os.environ.get("PYPOND_FIXTURE_DIR") or os.path.join(
        tempfile.gettempdir(), "pypond_fixtures")
    try:
        st = os.stat(os.path.join(sf_dir, "documents.parquet"))
        fp = f"{st.st_size}_{st.st_mtime_ns}"
    except OSError:
        fp = "nostat"
    key = (f"streamtar_v1_"
           f"{os.path.basename(os.path.normpath(sf_dir))}_{fp}")
    path = os.path.join(root, key)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        os.makedirs(root, exist_ok=True)
        tmp = os.path.join(root, f".{key}.{uuid.uuid4().hex}")
        os.makedirs(tmp, exist_ok=True)
        for r in _synth_tar(docs).collect():
            with open(os.path.join(tmp, f"{r['shard_id']:08d}.tar"),
                      "wb") as f:
                f.write(bytes(r["content"]))
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)

    sdf = (spark.readStream.format("binaryFile")
           .schema("path string, modificationTime timestamp, "
                   "length long, content binary")
           .option("pathGlobFilter", "*.tar")
           .option("maxFilesPerTrigger", 1000000)
           .load(path))
    sid = F.regexp_extract(
        F.element_at(F.split(F.col("path"), "/"), -1),
        r"(\d+)", 1).cast("long")
    members = read_tar_members(
        sdf.select(sid.alias("shard_id"), "content"))
    keyed = members.select(
        F.md5("data").alias("digest"),
        (F.col("shard_id") * 3
         + F.element_at(F.split("sample_key", "-"), 2).cast("long"))
        .alias("ord"),
        "ext", "n_bytes",
        F.col("data").cast("string").alias("content"))
    out = stream_first_seen(
        keyed, key_col="digest",
        payload_cols=("ord", "ext", "n_bytes", "content"),
        order_col="ord")
    return run_available_now(out, "append")


def q_stream_chat_ingest(spark, sf_dir):
    """Streaming SFT-conversation ingest (r14, the streaming twin of
    the chat tier): readStream binaryFile over one JSON conversation
    file per doc — content keyed on doc_id%50, so conversations
    COLLIDE across files by construction — parsed by the same
    VARIANT chat operators (stateless selects compose with
    Structured Streaming unchanged), then the stream_first_seen
    dedup gate keyed on the conversation digest keeps the earliest
    file per distinct conversation.  The batch twin is min(doc_id)
    per class with the class's stats rebuilt symbolically."""
    import shutil
    import tempfile
    import uuid

    from pypond_spark.streaming.stream import stream_first_seen

    docs = _read(spark, sf_dir, "documents")

    root = os.environ.get("PYPOND_FIXTURE_DIR") or os.path.join(
        tempfile.gettempdir(), "pypond_fixtures")
    try:
        st = os.stat(os.path.join(sf_dir, "documents.parquet"))
        fp = f"{st.st_size}_{st.st_mtime_ns}"
    except OSError:
        fp = "nostat"
    key = (f"streamchat_v1_"
           f"{os.path.basename(os.path.normpath(sf_dir))}_{fp}")
    path = os.path.join(root, key)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        import hashlib as _hl
        os.makedirs(root, exist_ok=True)
        tmp = os.path.join(root, f".{key}.{uuid.uuid4().hex}")
        os.makedirs(tmp, exist_ok=True)
        for (did,) in docs.select("doc_id").collect():
            k = int(did) % 50

            def ch(tag):
                return _hl.md5(f"cls{k}&{tag}".encode()).hexdigest()

            conv = ('{"messages":[{"role":"user","content":"q '
                    + ch("u") + '"},{"role":"assistant",'
                    '"content":"a ' + ch("a") + '"}]}')
            with open(os.path.join(tmp, f"{int(did):08d}.json"),
                      "w") as f:
                f.write(conv)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)

    sdf = (spark.readStream.format("binaryFile")
           .schema("path string, modificationTime timestamp, "
                   "length long, content binary")
           .option("pathGlobFilter", "*.json")
           .option("maxFilesPerTrigger", 1000000)
           .load(path))
    did = F.regexp_extract(
        F.element_at(F.split(F.col("path"), "/"), -1),
        r"(\d+)", 1).cast("long")
    conv = sdf.select(did.alias("ord"),
                      F.col("content").cast("string")
                      .alias("content"),
                      F.md5(F.col("content").cast("string"))
                      .alias("digest"))
    rendered = dp_chat.chat_render(
        conv, id_col="ord", extra_cols=("digest", "content"))
    staged = dp_chat.chat_stats(
        rendered, id_col="ord", extra_cols=("digest", "text"))
    keyed = staged.select(
        "digest", "ord", "n_turns", "n_user", "n_assistant",
        "alternates", F.md5("text").alias("render_digest"))
    out = stream_first_seen(
        keyed, key_col="digest",
        payload_cols=("ord", "n_turns", "n_user", "n_assistant",
                      "alternates", "render_digest"),
        order_col="ord")
    return run_available_now(out, "append")


def q_warc_gz_members(spark, sf_dir):
    """Member-per-record .warc.gz ingest (datapipe/warc.py::
    parse_warc_gz + split_gzip_members — r13: the layout Common Crawl
    actually ships): the SAME 3-record WARC as ``warc_responses``,
    but each record gzipped as its OWN member in-plan; member
    boundaries must reassemble into identical Content-Length framing,
    so the unchanged warc_responses oracle certifies the gzip-member
    walk end-to-end."""
    import gzip as _gzip
    import io as _io

    import pandas as _pd

    from pypond_spark.datapipe import warc as dp_warc

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    body_len = F.length("text") + F.lit(44 + 4 + 7)
    rec2 = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\n"
              "WARC-Target-URI: http://ex"),
        (d % 7).cast("string"), F.lit(".com/"), d.cast("string"),
        F.lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"
              "Content-Type: application/http\r\nContent-Length: "),
        body_len.cast("string"),
        F.lit("\r\n\r\nHTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
              "\r\n"),
        F.col("text"), F.lit("\r\n\r\ntrailer"), F.lit("\r\n\r\n"))
    src = docs.select("doc_id", rec2.alias("r2"))

    def enc(batches):
        r1 = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
              b"Content-Length: 5\r\n\r\nnote!\r\n\r\n")
        r3 = (b"WARC/1.0\r\nWARC-Type: metadata\r\n"
              b"Content-Length: 2\r\n\r\nxy\r\n\r\n")

        def member(payload: bytes) -> bytes:
            buf = _io.BytesIO()
            with _gzip.GzipFile(fileobj=buf, mode="wb",
                                mtime=0) as gz:
                gz.write(payload)
            return buf.getvalue()

        for pdf_ in batches:
            rows = []
            for did, r2 in zip(pdf_["doc_id"], pdf_["r2"]):
                rows.append((int(did),
                             member(r1) + member(r2.encode("utf-8"))
                             + member(r3)))
            yield _pd.DataFrame(rows, columns=["doc_id", "warc_gz"])

    gz = src.mapInPandas(enc, "doc_id long, warc_gz binary")
    recs = dp_warc.parse_warc_gz(gz)
    out = (recs.where(F.col("warc_type") == "response")
           .withColumn("payload", dp_warc.http_payload_expr("block")))
    return out.select("doc_id",
                      F.col("record_no").cast("long").alias("record_no"),
                      "target_uri", "content_length",
                      F.md5("payload").alias("payload_digest"))


def q_crawl_ingest(spark, sf_dir):
    """End-to-end crawl ingest composition (the front half of a real
    pipeline, each stage separately driver-verified): a WARC response
    record whose HTTP body is the chrome-wrapped page from
    ``extract_content``'s row and whose WARC-Target-URI is the messy
    URL from ``url_normalize``'s row -> Content-Length record framing
    -> HTTP envelope strip -> jusText block extraction -> URL
    canonicalization.  The oracle is the extract_content oracle joined
    with the rebuilt canonical URL — composition of verified
    components, the corpus_pipeline discipline."""
    from pypond_spark.datapipe import warc as dp_warc
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    page = F.concat(
        F.lit('<html><head><title>T</title><script>var x=1;</script>'
              '</head><body><nav><ul><li><a href="/">Home</a></li>'
              '<li><a href="/about">About us</a></li>'
              '<li><a href="/contact">Contact</a></li></ul></nav>'
              '<div class="cookie">We use cookies. '
              '<a href="#">Accept</a> <a href="#">Decline</a></div>'
              '<article><h1>'),
        F.substring("text", 1, 20),
        F.lit("</h1><p>"), F.col("text"),
        F.lit('</p></article><footer><a href="/p">Privacy</a> | '
              '<a href="/t">Terms</a> | (c) 2026</footer>'
              "</body></html>"))
    body = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
        page)
    warc = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\n"
              "WARC-Target-URI: HTTP://User:pw@WWW.Ex"),
        (d % 7).cast("string"), F.lit(".CO.UK:80/p/"),
        d.cast("string"), F.lit("?utm_source=x&b="),
        (d % 5).cast("string"), F.lit("&a=1#frag"),
        F.lit("\r\nContent-Length: "),
        F.length(body).cast("string"),
        F.lit("\r\n\r\n"), body, F.lit("\r\n\r\n"))
    recs = dp_warc.warc_responses(
        docs.select("doc_id", warc.alias("warc")))
    ext = dp_text.extract_content(
        recs.withColumnRenamed("payload", "text"))
    return ext.select(
        "doc_id",
        dp_urls.normalize_url_expr("target_uri").alias("url_norm"),
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.col("n_content").cast("long").alias("n_content"),
        F.md5("text").alias("text_digest"),
        F.length("text").alias("n_chars"))


def q_url_normalize(spark, sf_dir):
    """URL canonicalization (datapipe/urls.py::normalize_urls +
    url_parts — the C4-style URL-dedup key): lowercase scheme/host,
    strip userinfo/default ports/fragments, drop tracking params, sort
    survivors; registered domain via the co.uk-aware two/three-label
    heuristic.  All scan-level regexp/HOF expressions; the oracle
    rebuilds the canonical string and domain parts from doc_id with
    plain string functions."""
    docs = _read(spark, sf_dir, "documents")
    out = dp_urls.normalize_urls(dp_urls.url_parts(
        _synth_urls(docs)))
    return out.select("doc_id", "url_norm", "host",
                      "registered_domain", "tld")


def q_robots_rules(spark, sf_dir):
    """robots.txt parsing (datapipe/urls.py::parse_robots, RFC 9309):
    per doc a 5-line synthetic robots body — a two-rule specific
    group (allow/disallow alternating by parity, a $-anchored
    pattern) followed by a one-rule ``*`` group — is built IN-PLAN
    from doc_id and parsed by the expression-only REP grammar (line
    split + per-host group window).  The oracle predicts every output
    row straight from the synthesis recipe, so a green row proves
    comment-free line parsing, key case-folding, group boundaries and
    pattern extraction."""
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    txt = F.concat_ws(
        "\n",
        F.concat(F.lit("User-Agent: bot"), F.pmod(d, 3)),
        F.concat(F.when(F.pmod(d, 2) == 0, F.lit("Allow"))
                 .otherwise(F.lit("Disallow")),
                 F.lit(": /p"), F.pmod(d, 5), F.lit("/")),
        F.concat(F.lit("Disallow: /q"), F.pmod(d, 4), F.lit("$")),
        F.lit("user-agent: *"),
        F.concat(F.lit("Disallow: /tmp"), F.pmod(d, 7), F.lit("/")))
    robots = docs.select(F.concat(F.lit("h"), d).alias("host"),
                         txt.alias("robots_txt"))
    return dp_urls.parse_robots(robots)


def q_robots_allowed(spark, sf_dir):
    """robots.txt URL filtering (datapipe/urls.py::robots_filter, RFC
    9309 decision: most-specific matching user-agent group, longest
    matching pattern wins, allow wins length ties, default allow):
    synthetic URLs over 4 hosts — one with wildcard + $-anchor + an
    allow-override that TIES a disallow on length, one where a
    specific trainbot group shadows a Disallow-everything ``*``
    group, one with a fully-anchored rule, one with no robots at all.
    The oracle hand-derives each decision from the REP semantics (an
    independent derivation — the Spark side runs the general
    engine)."""
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(F.lit("http://s"), F.pmod(d, 4), F.lit(".com/p"),
                   F.pmod(d, 5), F.lit("/f"), F.pmod(d, 9),
                   F.when(F.pmod(d, 2) == 0, F.lit(".pdf"))
                   .otherwise(F.lit(".html")))
    urls_df = docs.select("doc_id", url.alias("url"))
    robots = spark.createDataFrame([
        ("s0.com", "User-agent: *\nDisallow: /p1/\n"
                   "Allow: /p1/f3*\nDisallow: /*.pdf$"),
        ("s1.com", "User-agent: trainbot\nDisallow: /p2/\n"
                   "User-agent: *\nDisallow: /"),
        ("s2.com", "User-agent: *\nDisallow: /p3/f5.html$"),
    ], "host string, robots_txt string")
    rules = dp_urls.parse_robots(robots)
    out = dp_urls.robots_filter(urls_df, rules, agent="trainbot/2.0")
    return out.select("doc_id", "url",
                      F.col("robots_allowed").alias("allowed"))


def q_robots_crawl_delays(spark, sf_dir):
    """Crawl-delay extraction (datapipe/urls.py::robots_crawl_delays
    — the politeness budget a frontier scheduler joins against): per
    doc a two-UA group carrying two delays (largest wins), a ``solo``
    group whose Disallow TERMINATES the UA run (so the delay that
    follows the next UA line belongs to ``tail`` only — the r12
    boundary fix), and a ``*`` group whose delay is NON-NUMERIC and
    must be dropped, leaving exactly three rows per doc.  The oracle
    predicts all three from doc_id."""
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    txt = F.concat_ws(
        "\n",
        F.concat(F.lit("User-agent: bot"), F.pmod(d, 3)),
        F.lit("User-agent: aux"),
        F.concat(F.lit("Crawl-delay: "), F.pmod(d, 9) + 1),
        F.lit("Disallow: /x"),
        F.concat(F.lit("crawl-delay: "),
                 (F.pmod(d, 9) + 1) * 2, F.lit(".5")),
        F.lit("User-agent: solo"),
        F.lit("Disallow: /admin"),
        F.lit("User-agent: tail"),
        F.concat(F.lit("Crawl-delay: "), F.pmod(d, 5) + 1),
        F.lit("User-agent: *"),
        F.lit("Crawl-delay: whenever"))
    robots = docs.select(F.concat(F.lit("h"), d).alias("host"),
                         txt.alias("robots_txt"))
    return dp_urls.robots_crawl_delays(robots)


def q_extract_links(spark, sf_dir):
    """Link extraction + resolution (datapipe/urls.py::extract_links):
    per doc a synthetic page with a root-relative, a path-relative, an
    absolute, a mailto: and a fragment-only href; the op must keep
    exactly three links and resolve each against the doc's base URL
    (origin for ``/..``, base directory for relative, verbatim for
    absolute).  Pure regexp + explode; the oracle predicts every
    resolved URL from doc_id."""
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    base = F.concat(F.lit("https://w"), F.pmod(d, 4), F.lit(".site"),
                    F.pmod(d, 6), F.lit(".com/dir"), F.pmod(d, 3),
                    F.lit("/page.html"))
    html = F.concat(
        F.lit('<p>t</p><a class="l" href="/r'), F.pmod(d, 5),
        F.lit('">a</a><a href=\'rel'), F.pmod(d, 7),
        F.lit(".html'>b</a><a href=\"https://abs"), F.pmod(d, 8),
        F.lit('.org/p">c</a><a href="mailto:x@y.z">m</a>'
              '<a href="#f">g</a>'))
    frame = docs.select("doc_id", base.alias("url"),
                        html.alias("html"))
    out = dp_urls.extract_links(frame)
    return out.select("doc_id", "url", "href", "link_url")


def q_pagerank3(spark, sf_dir):
    """Fixed-iteration PageRank (datapipe/urls.py::pagerank) over a
    20-node synthetic domain graph (edges s = d%20 -> t = (3d+1)%20,
    self-loops dropped): three rounds of the un-normalized
    recurrence pr = 0.15 + 0.85 * sum(pr_in/outdeg_in) from pr = 1.
    Per iteration one edges-to-ranks join + one dst groupBy; the
    oracle unrolls the identical three CTE stages, values rounded to
    6 dp on both sides."""
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    e = (docs.select(F.pmod(d, 20).alias("s"),
                     F.pmod(3 * d + 1, 20).alias("t"))
         .where(F.col("s") != F.col("t")).distinct())
    edges = e.select(F.concat(F.lit("n"), "s").alias("src_domain"),
                     F.concat(F.lit("n"), "t").alias("dst_domain"))
    out = dp_urls.pagerank(edges, iters=3)
    return out.select("node",
                      F.round("pagerank", 6).alias("pagerank"))


def q_sitemap_locs(spark, sf_dir):
    """Sitemap <loc> extraction (datapipe/urls.py::sitemap_urls): per
    doc a urlset with two url entries (one with <lastmod> BEFORE the
    loc — the tempered-dot entry matcher must skip element content,
    not just tags) plus a sitemapindex entry that must come back
    is_index=true.  The oracle predicts all three rows from
    doc_id."""
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    xml = F.concat(
        F.lit("<urlset><url><lastmod>2026-01-01</lastmod><loc> "
              "https://m"), F.pmod(d, 5),
        F.lit(".com/a </loc></url><url><loc>https://m"),
        F.pmod(d, 5), F.lit(".com/b"), F.pmod(d, 7),
        F.lit("</loc></url></urlset><sitemapindex><sitemap>"
              "<loc>https://m"), F.pmod(d, 5), F.lit(".com/s"),
        F.pmod(d, 3), F.lit(".xml</loc></sitemap></sitemapindex>"))
    frame = docs.select("doc_id", xml.alias("sitemap_xml"))
    return dp_urls.sitemap_urls(frame)


def q_robots_sitemaps(spark, sf_dir):
    """Sitemap: lines of robots.txt (datapipe/urls.py::
    robots_sitemaps — RFC 9309 allows them anywhere, outside group
    structure): per doc two lines in different key casings, one with
    a trailing comment, host folded to lowercase.  Scan-level split +
    regexp; the oracle predicts both rows from doc_id."""
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    txt = F.concat(
        F.lit("User-agent: *\nDisallow: /\nSitemap: https://h"),
        F.pmod(d, 6), F.lit(".com/s"), F.pmod(d, 4),
        F.lit(".xml  # nightly\nsitemap:https://h"), F.pmod(d, 6),
        F.lit(".com/extra.xml"))
    robots = docs.select(F.concat(F.lit("H"), d).alias("host"),
                         txt.alias("robots_txt"))
    return dp_urls.robots_sitemaps(robots)


def q_http_charset(spark, sf_dir):
    """Declared-charset triage (datapipe/warc.py::http_charset_expr):
    four block shapes by doc_id — Content-Type HEADER charset winning
    over a conflicting body meta, meta-only (parametric iso-8859-N),
    the http-equiv form, and a bare no-declaration block that must
    come back NULL.  Pure JVM regexp; the oracle predicts each value
    from doc_id."""
    from pypond_spark.datapipe import warc as dp_warc

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    block = (
        F.when(F.pmod(d, 4) == 0,
               F.lit('HTTP/1.1 200 OK\r\nContent-Type: text/html; '
                     'charset=UTF-8\r\n\r\n<meta charset="latin-1">x'))
        .when(F.pmod(d, 4) == 1,
              F.concat(F.lit("HTTP/1.1 200 OK\r\nContent-Type: "
                             "text/html\r\n\r\n<html><META "
                             "CHARSET=iso-8859-"),
                       F.pmod(d, 9) + 1, F.lit(">x")))
        .when(F.pmod(d, 4) == 2,
              F.lit('HTTP/1.1 200 OK\r\nServer: x\r\n\r\n<meta '
                    'http-equiv="Content-Type" content="text/html; '
                    'charset=Windows-1252">x'))
        .otherwise(F.lit("plain WET text, no declarations")))
    frame = docs.select("doc_id", block.alias("block"))
    return dp_warc.with_charset(frame).select("doc_id", "charset")


def q_audio_meta_sniff(spark, sf_dir):
    """Header-only audio triage (multimodal.py::sniff_audio_meta):
    per doc one of three shapes — a WAV whose fmt/data chunks encode
    rate from doc_id, an MPEG1 Layer III frame (optionally behind an
    ID3v2 tag) with bitrate/rate/mode indices from doc_id, and an
    MPEG2 frame with the second bitrate table.  MP3 cannot DECODE in
    this tier (no codec libs) but triage needs only the 4 header
    bytes — exactly the 100-TB pre-filter story.  The oracle replays
    the recipe with the bitrate tables inlined."""
    import struct as _struct

    import pandas as _pd

    docs = _read(spark, sf_dir, "documents")

    def enc(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                d = int(did)
                v = d % 3
                if v == 0:
                    rate = 8000 + 8000 * (d % 5 % 3)
                    content = (b"RIFF"
                               + _struct.pack("<I", 36 + 256) + b"WAVE"
                               + b"fmt "
                               + _struct.pack("<IHHIIHH", 16, 1, 1,
                                              rate, rate * 2, 2, 16)
                               + b"data" + _struct.pack("<I", 256)
                               + bytes(256))
                elif v == 1:
                    br, sr = 1 + d % 14, (d % 9) // 3
                    h = bytes([0xFF, 0xFB, (br << 4) | (sr << 2),
                               0xC0 if d % 2 else 0x00])
                    body = h + bytes(996)
                    if d % 4 == 1:  # ID3v2 tag on some rows
                        body = (b"ID3" + bytes([4, 0, 0, 0, 0, 0, 20])
                                + bytes(20) + body)
                    content = body
                else:
                    br, sr = 1 + d % 14, (d % 9) // 3
                    content = bytes([0xFF, 0xF3,
                                     (br << 4) | (sr << 2),
                                     0xC0 if d % 2 else 0x00]) \
                        + bytes(496)
                rows.append((d, content))
            yield _pd.DataFrame(rows, columns=["media_id", "content"])

    media = docs.select(F.col("doc_id")).mapInPandas(
        enc, "media_id long, content binary")
    return dp_mm.sniff_audio_meta(media)


def q_image_orientation(spark, sf_dir):
    """EXIF orientation triage (multimodal.py::image_orientation —
    the rotate-before-phash prerequisite for camera imagery): per doc
    a real baseline JPEG with an APP1/EXIF segment spliced after SOI
    carrying orientation 1 + d%8, byte order alternating II/MM by
    parity; every 5th doc carries NO tag and must come back NULL.
    Header-only marker walk + TIFF IFD0 scan; the oracle replays the
    recipe."""
    import pandas as _pd

    from pypond_spark.datapipe.jpeg import encode_jpeg

    docs = _read(spark, sf_dir, "documents")

    def enc(batches):
        base = encode_jpeg(8, 8, bytes([100] * 64), gray=True)
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                d = int(did)
                if d % 5 == 0:
                    content = base
                else:
                    app1 = dp_mm.exif_app1(
                        1 + d % 8, "II" if d % 2 == 0 else "MM")
                    content = base[:2] + app1 + base[2:]
                rows.append((d, content))
            yield _pd.DataFrame(rows, columns=["media_id", "content"])

    media = docs.select(F.col("doc_id")).mapInPandas(
        enc, "media_id long, content binary")
    return dp_mm.image_orientation(media)


def q_image_orient(spark, sf_dir):
    """EXIF orientation APPLICATION (multimodal.py::orient_image —
    the upright-normalization between orientation triage and any
    perceptual hash): the 8x8 synthetic PPM is permuted by
    orientation 1 + doc_id%8 (all eight tag-274 cases across the
    corpus) and exploded to one row per output byte; the oracle maps
    each output coordinate back to its source pixel with the same
    index formulas and reads the byte straight from the md5 recipe —
    a pure permutation, bit-exact."""
    docs = _read(spark, sf_dir, "documents")
    media = _synth_ppm8(docs).withColumn(
        "orientation", (1 + F.pmod(F.col("media_id"), 8)).cast("int"))
    out = dp_mm.orient_image(media)
    n = 192
    return (out.select("media_id", F.hex("content").alias("hx"))
            .select("media_id",
                    F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
                    .alias("p"), "hx")
            .select("media_id", "p",
                    F.conv(F.col("hx").substr(
                        F.lit(23) + F.col("p") * 2, F.lit(2)),
                        16, 10).cast("long").alias("v")))


def q_transcode_payload(spark, sf_dir):
    """Charset transcoding (datapipe/warc.py::transcode_payload — the
    bytes->UTF-8 step between charset triage and every text op): four
    variants by doc_id — declared UTF-8, declared ISO-8859-1 (alias
    to the latin-1 codec), UNDECLARED non-UTF-8 bytes that must fall
    through the strict-UTF-8 rung to latin-1 with had_errors=true,
    and declared us-ascii.  Bytes are synthesized in-plan with
    F.encode; the oracle predicts text/used/errors from the recipe."""
    from pypond_spark.datapipe import warc as dp_warc

    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    suffix = F.pmod(d, 9).cast("string")
    content = (
        F.when(F.pmod(d, 4) == 0,
               F.encode(F.concat(F.lit("héllo"), suffix), "UTF-8"))
        .when(F.pmod(d, 4) == 1,
              F.encode(F.concat(F.lit("café"), suffix), "ISO-8859-1"))
        .when(F.pmod(d, 4) == 2,
              F.encode(F.concat(F.lit("é!"), suffix), "ISO-8859-1"))
        .otherwise(F.encode(F.concat(F.lit("plain"), suffix),
                            "US-ASCII")))
    charset = (F.when(F.pmod(d, 4) == 0, F.lit("UTF-8"))
               .when(F.pmod(d, 4) == 1, F.lit("iso-8859-1"))
               .when(F.pmod(d, 4) == 2, F.lit(None).cast("string"))
               .otherwise(F.lit("us-ascii")))
    frame = docs.select("doc_id", content.alias("content"),
                        charset.alias("charset"))
    return dp_warc.transcode_payload(frame)


def q_crawl_frontier(spark, sf_dir):
    """Composed crawl-frontier pipeline (the discovery half the
    crawl_ingest row doesn't cover): extract_links over synthetic
    pages -> normalize_url_expr (tracking-param strip + param sort on
    the first link) -> robots_filter (the w0.* hosts disallow /r
    paths) -> allowed-only frontier deduped by canonical URL with
    reference counts.  Every stage is separately driver-verified; the
    oracle composes their recipe predictions."""
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    base = F.concat(F.lit("https://w"), F.pmod(d, 4), F.lit(".site"),
                    F.pmod(d, 6), F.lit(".com/dir"), F.pmod(d, 3),
                    F.lit("/page.html"))
    html = F.concat(
        F.lit('<a href="/r'), F.pmod(d, 5),
        F.lit('?utm_source=x&b=2&a=1">a</a><a href=\'rel'),
        F.pmod(d, 7),
        F.lit(".html'>b</a><a href=\"https://abs"), F.pmod(d, 8),
        F.lit('.org/p">c</a>'))
    pages = docs.select("doc_id", base.alias("url"),
                        html.alias("html"))
    links = dp_urls.extract_links(pages)
    norm = links.withColumn("url_norm",
                            dp_urls.normalize_url_expr("link_url"))
    robots = spark.createDataFrame(
        [(f"w0.site{k}.com", "User-agent: *\nDisallow: /r")
         for k in range(6)], "host string, robots_txt string")
    filt = dp_urls.robots_filter(norm, dp_urls.parse_robots(robots),
                                 agent="*", url_col="url_norm")
    return (filt.where(F.col("robots_allowed"))
            .groupBy("url_norm")
            .agg(F.count("*").alias("n_refs")))


def q_domain_stats(spark, sf_dir):
    """Per-registered-domain corpus composition (datapipe/urls.py::
    domain_stats — the domain-mixing/blocklist audit): one groupBy on
    the registered domain, total joined back as a broadcast 1-row
    aggregate (never a corpus-wide window).  14 synthesized registered
    domains (ex0..ex6 under co.uk and com); the oracle reproduces each
    directly from doc_id parity and d%7."""
    docs = _read(spark, sf_dir, "documents")
    return dp_urls.domain_stats(_synth_urls(docs)) \
        .select("registered_domain", "n_docs", "share")


def q_normalize_unicode(spark, sf_dir):
    """Arrow-side Unicode normalization (textstats.py::
    normalize_unicode — verdict r9 item 7: NFKC -> casefold ->
    zero-width strip -> homoglyph fold -> re-normalize, one
    implementation so Java-vs-Python normalizer drift can't poison
    digests): each doc gets a suffix of KNOWN pathological codepoints
    (NFD ring, fullwidth letter, NFD acute, zero-width stuffing, a
    Cyrillic homoglyph) appended in-plan; the oracle replays the ASCII
    body with lower() (the corpus is ASCII — NFKC is identity,
    casefold == lower) and the suffix with the HAND-DERIVED expected
    literal from the Unicode tables, so the normalization itself is
    what the hash certifies, never re-run on the oracle side."""
    docs = _read(spark, sf_dir, "documents")
    suffix = (" Å Ａ café zz​zz pаy")
    dirty = docs.select("doc_id",
                        F.concat(F.col("text"), F.lit(suffix))
                        .alias("text"))
    out = dp_text.normalize_unicode(dirty, fold_confusables=True)
    return out.select("doc_id", F.md5("text").alias("norm_digest"),
                      F.length("text").alias("n_chars"))


def q_langid_ngram(spark, sf_dir):
    """Trainable char-3-gram Naive-Bayes language ID
    (textstats.py::langid_ngram — verdict r9 item 5: the marker-word
    heuristic is brittle on short/non-European docs): fit on the
    even-id half's labeled lang column, score the odd half. Dense
    (bucket x label) micro-nat table broadcast, integer per-doc sums,
    argmax with score-then-label tiebreak — the multiclass nb_quality
    recipe, replayed in full by the oracle."""
    docs = _read(spark, sf_dir, "documents")
    return dp_text.langid_ngram(docs.where(F.col("doc_id") % 2 == 0),
                                docs.where(F.col("doc_id") % 2 == 1))


def q_langid_ngram_confusion(spark, sf_dir):
    """Confusion matrix + per-language recall of the TRAINED char-gram
    classifier on the held-out half — the side-by-side quality report
    against `langid_confusion` (marker words). The unit test asserts
    the trained recall beats marker words where markers go blind
    (short docs, zh)."""
    docs = _read(spark, sf_dir, "documents")
    pred = dp_text.langid_ngram(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1)) \
        .select("doc_id", "lang_pred")
    from pyspark.sql import Window
    cm = (docs.where(F.col("doc_id") % 2 == 1)
          .select("doc_id", F.col("lang").alias("actual"))
          .join(pred, "doc_id")
          .groupBy("actual", "lang_pred")
          .agg(F.count("*").alias("n")))
    tot = F.sum("n").over(Window.partitionBy("actual"))
    return cm.select("actual", "lang_pred", "n",
                     F.round(F.col("n") / tot, 6).alias("recall_share"))


def q_throttle_30m(spark, sf_dir):
    """Greedy per-user rate limit (operators/rolling.py::throttle):
    keep iff >= 30m since the last KEPT event — a sequential fold no
    window frame expresses; integer-ms state makes it bit-exact against
    the recursive-CTE oracle."""
    from pypond_spark.operators.rolling import throttle
    df = _events_df(spark, sf_dir).withColumnRenamed("ts", "time")
    out = throttle(df, "30m", partition_by=["user_id"],
                   tiebreak="event_id")
    return out.select("user_id", _ms().alias("t_ms"), "throttle_keep")


def q_stream_throttle(spark, sf_dir):
    """Streaming twin of throttle_30m (streaming/stream.py::
    stream_throttle): ONE long of state per key; suppression windows
    spanning micro-batch boundaries still suppress; same recursive-CTE
    oracle verbatim."""
    from pypond_spark.streaming import stream_throttle
    sdf = _events_stream(spark, sf_dir)
    out = stream_throttle(sdf, "30m", partition_by=["user_id"],
                          tiebreak="event_id")
    result = run_available_now(out, "append")
    return result.select("user_id", "t_ms", "throttle_keep")


def q_embedding_drift(spark, sf_dir):
    """Embedding-space drift (datapipe/similarity.py::embedding_drift):
    even/odd vec_id halves as old/new snapshots, k-means cells built on
    the union (the same seeds/rounds/quantize recipe the ann_ivf oracle
    replays), Laplace-smoothed per-cell PSI terms — the embedding twin
    of psi_drift."""
    emb = _read(spark, sf_dir, "embeddings")
    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)
    out = dp_sim.embedding_drift(old, new, n_cells=8, n_iters=2,
                                 quantize=6)
    return out.select(F.col("cell").cast("long").alias("cell"),
                      "n_old", "n_new", "p_old", "p_new", "psi_term")


def q_corpus_diff(spark, sf_dir):
    """Snapshot diff audit (datapipe/corpus.py::corpus_diff): the "old"
    snapshot is synthesized deterministically from the same table —
    doc_id % 10 == 9 withheld (-> added), text truncated for
    doc_id % 7 == 0 (-> changed), plus shifted-id rows the new snapshot
    lacks (-> removed) — so every status branch of the full-outer
    digest compare is exercised and hash-verified."""
    from pypond_spark.datapipe.corpus import corpus_diff
    docs = _read(spark, sf_dir, "documents")
    old_kept = (docs.where(F.col("doc_id") % 10 != 9)
                .select("doc_id", "source",
                        F.when(F.col("doc_id") % 7 == 0,
                               F.substring("text", 1, 50))
                        .otherwise(F.col("text")).alias("text")))
    old_gone = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                           "source", "text").where(F.col("doc_id") % 3 == 0)
    out = corpus_diff(old_kept.unionByName(old_gone), docs)
    return out.select("source", "status", "n_docs")


def q_interarrival_stats(spark, sf_dir):
    """Inter-arrival distribution per event_type (is traffic bursty or
    steady): one lag window on the type partition, then exact
    interpolated percentiles of the gaps — the workload-characterization
    twin of find_gaps' outage view."""
    df = _events_df(spark, sf_dir)
    from pyspark.sql import Window
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gap = (F.unix_millis("ts")
           - F.unix_millis(F.lag("ts").over(w))) / F.lit(1000.0)
    gaps = df.withColumn("__gap", gap).where(F.col("__gap").isNotNull())
    return (gaps.groupBy("event_type")
            .agg(F.count("*").alias("n_gaps"),
                 F.round(F.avg("__gap"), 6).alias("gap_mean"),
                 F.round(F.percentile("__gap", 0.5), 6).alias("gap_p50"),
                 F.round(F.percentile("__gap", 0.9), 6).alias("gap_p90"),
                 F.round(F.percentile("__gap", 0.99), 6).alias("gap_p99"),
                 F.round(F.max("__gap"), 6).alias("gap_max")))


def q_series_describe(spark, sf_dir):
    """Pandas-style describe() per series (TimeSeries.describe): count,
    mean, population std, min, exact quartiles, max — ONE
    partial-aggregable groupBy; the quartiles ride the same pass as
    multi-arg percentile."""
    ts = _events_ts(spark, sf_dir)
    out = ts.describe("value", group_by="event_type")
    return out.select(
        "event_type", "n",
        F.round("mean", 6).alias("mean"),
        F.round("std", 6).alias("std"),
        "min",
        F.round("q25", 6).alias("q25"),
        F.round("q50", 6).alias("q50"),
        F.round("q75", 6).alias("q75"),
        "max")


def q_stream_transitions(spark, sf_dir):
    """Streaming transition edges (streaming/stream.py::
    stream_transitions): ONE string of state per user (last event type);
    the drained edges counted per (from, to) must equal the batch lag
    window — including pairs that span micro-batch boundaries."""
    from pypond_spark.streaming import stream_transitions
    sdf = _events_stream(spark, sf_dir)
    out = stream_transitions(sdf, "event_type", partition_by=["user_id"],
                             tiebreak="event_id")
    result = run_available_now(out, "append")
    return (result.groupBy("from_type", "to_type")
            .agg(F.count("*").alias("n")))


def q_revenue_pareto(spark, sf_dir):
    """Revenue concentration (Pareto curve by customer decile): rank
    customers by revenue, bucket into deciles, emit each decile's share
    and the running cumulative share. The fact table aggregates once on
    the uniform orderkey/custkey path; the ntile ranking is a GLOBAL
    sort of the customer-sized aggregate — fine while customers are the
    small side (TPC-H's 1:10:40 ratios), and the documented swap for a
    billion-key frame is approx-percentile revenue cutoffs instead of
    exact ranks. The cumulative window then runs on 10 rows."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey",
                                                   "o_custkey")
    per_cust = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
                .groupBy("o_custkey")
                .agg(F.sum(_rev_decimal()).alias("__rev")))
    from pyspark.sql import Window
    w = Window.orderBy(F.col("__rev").desc(), F.col("o_custkey"))
    deciles = (per_cust
               .withColumn("decile", F.ntile(10).over(w))
               .groupBy("decile")
               .agg(F.sum("__rev").alias("__drev"),
                    F.count("*").alias("n_cust")))
    total = deciles.agg(F.sum("__drev").alias("__t"))
    cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding,
                                               Window.currentRow)
    return (deciles.join(F.broadcast(total))
            .withColumn("share", F.round(F.col("__drev").cast("double")
                                         / F.col("__t").cast("double"), 6))
            .withColumn("cum_share",
                        F.round(F.sum(F.col("__drev")).over(cum)
                                .cast("double")
                                / F.col("__t").cast("double"), 6))
            .select(F.col("decile").cast("long").alias("decile"),
                    "n_cust",
                    F.col("__drev").cast("double").alias("revenue"),
                    "share", "cum_share"))


def q_funnel_latency(spark, sf_dir):
    """Conversion-lag distribution on top of the funnel (how long
    signup -> click -> purchase actually takes): exact interpolated
    percentiles of the step gaps over converting users — one tiny
    aggregation over the funnel frame (users x 3 timestamps), nothing
    corpus-sized after the funnel's own bounded step aggs."""
    ts = _events_ts(spark, sf_dir)
    f = ts.funnel(["signup", "click", "purchase"], within="7d")
    lat12 = (F.col("t2_ms") - F.col("t1_ms")) / F.lit(1000.0)
    lat23 = (F.col("t3_ms") - F.col("t2_ms")) / F.lit(1000.0)
    return f.agg(
        F.count("t1_ms").alias("n_s1"),
        F.count("t2_ms").alias("n_s2"),
        F.count("t3_ms").alias("n_s3"),
        F.round(F.percentile(lat12, 0.5), 6).alias("lat12_p50"),
        F.round(F.percentile(lat12, 0.9), 6).alias("lat12_p90"),
        F.round(F.percentile(lat23, 0.5), 6).alias("lat23_p50"),
        F.round(F.percentile(lat23, 0.9), 6).alias("lat23_p90"))


def q_stream_sessions_sum(spark, sf_dir):
    """stream_sessions with a running value sum in the per-key state
    (3 longs + 1 double): per closed session, event count AND value
    total — oracle = the batch session rollup's sum, QUALIFY-trimmed to
    closed sessions (see stream_sessions)."""
    from pypond_spark.streaming import stream_sessions
    sdf = _events_stream(spark, sf_dir)
    out = stream_sessions(sdf, window="1h", partition_by=["user_id"],
                          field_spec="value")
    result = run_available_now(out, "append")
    return result.select("user_id", "begin_ms", "end_ms", "n",
                         F.round("value_sum", 6).alias("v_sum"))


def q_transition_matrix(spark, sf_dir):
    """Per-user event-type transition matrix (Markov step counts +
    row-normalized probabilities): one lag window over the user
    partition — the same exchange every per-series operator rides —
    then a (from, to)-keyed count and a broadcast row-total join.
    event_id tiebreak pins simultaneous events cross-engine."""
    df = _events_df(spark, sf_dir)
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (df.withColumn("next_type",
                           F.lead("event_type").over(w))
             .where(F.col("next_type").isNotNull())
             .groupBy(F.col("event_type").alias("from_type"),
                      F.col("next_type").alias("to_type"))
             .agg(F.count("*").alias("n"))
             # types^2-sized; pinned so the totals branch doesn't re-run
             # the corpus lag window (was 2 scans / 5 exchanges)
             .localCheckpoint())
    totals = steps.groupBy("from_type").agg(F.sum("n").alias("__t"))
    return (steps.join(F.broadcast(totals), "from_type")
            .select("from_type", "to_type", "n",
                    F.round(F.col("n") / F.col("__t"), 6).alias("p")))


def q_type_affinity(spark, sf_dir):
    """Within-order co-occurrence of part types (market-basket
    affinity): the pair join is per-orderkey, so cost is
    sum(lines-per-order^2) — bounded by the schema's ~7-line orders,
    never corpus-quadratic; part broadcasts into both legs."""
    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _read(spark, sf_dir, "part").select("p_partkey", "p_type")
    typed = (li.join(F.broadcast(part),
                     F.col("l_partkey") == F.col("p_partkey"))
             .select("l_orderkey", "p_type").distinct()
             # orders x types-sized; pinned so BOTH legs of the pair
             # self-join read it instead of re-scanning lineitem
             .localCheckpoint())
    a = typed.select(F.col("l_orderkey").alias("__o"),
                     F.col("p_type").alias("type_a"))
    b = typed.select(F.col("l_orderkey").alias("__o"),
                     F.col("p_type").alias("type_b"))
    return (a.join(b, "__o")
            .where(F.col("type_a") < F.col("type_b"))
            .groupBy("type_a", "type_b")
            .agg(F.count("*").alias("n_orders")))


def q_anomaly_ensemble(spark, sf_dir):
    """Majority-vote anomaly ensemble (operators/rolling.py::
    anomaly_ensemble): mean/sigma z + median/MAD robust z + seasonal
    deviation, 2-of-3 votes. Three already-oracled detectors composed —
    the event table is scanned, never shuffled (window + broadcast
    stats), and an abstaining detector (NULL score) casts no vote."""
    from pypond_spark.operators.rolling import anomaly_ensemble
    df = _events_df(spark, sf_dir).withColumnRenamed("ts", "time")
    out = anomaly_ensemble(df, "value", partition_by=["event_type"])
    return out.select(
        "event_id", "event_type",
        (F.round("value_zscore", 6) + F.lit(0.0)).alias("z"),
        (F.round("value_rz", 6) + F.lit(0.0)).alias("rz"),
        (F.round("deviation", 6) + F.lit(0.0)).alias("dev"),
        "votes", "ensemble_anomaly")


def q_cube_revenue(spark, sf_dir):
    """Multi-dimensional CUBE (native Catalyst Expand): revenue over
    every subset of (returnflag, linestatus) in ONE pass — the Expand
    operator multiplies rows by 4 grouping sets map-side, then a single
    partial-aggregable groupBy; grouping_id disambiguates the NULL
    super-aggregate rows."""
    li = _read(spark, sf_dir, "lineitem") \
        .select("l_returnflag", "l_linestatus",
                _rev_decimal().alias("__rev"))
    # project the DECIMAL product BEFORE the cube: Expand replicates the
    # one computed column x4 instead of re-multiplying per grouping set
    # (measured 2.4s -> ~1s isolated at sf0.1)
    return (li.cube("l_returnflag", "l_linestatus")
            .agg(F.sum("__rev").cast("double").alias("revenue"),
                 F.count("*").alias("n_items"),
                 F.grouping_id().alias("grp")))


def q_rollup_hierarchy(spark, sf_dir):
    """Hierarchical ROLLUP (year > month > total): the subtotal ladder
    in one Expand pass — 3 grouping sets, one shuffle, grouping_id
    labels each level."""
    orders = _read(spark, sf_dir, "orders")
    return (orders
            .withColumn("o_year", F.year("o_orderdate").cast("long"))
            .withColumn("o_month", F.month("o_orderdate").cast("long"))
            .rollup("o_year", "o_month")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count("*").alias("n_orders"),
                 F.grouping_id().alias("grp")))


def q_split_leakage(spark, sf_dir):
    """Train/test contamination audit (datapipe/decontam.py::
    split_leakage): per held-out doc, the share of its distinct 3-gram
    shingles that occur anywhere in the training split. The split is a
    pure id-hash recomputed on the shingle frame (no join to attach it);
    the audit is two distinct frames joined on the uniform shingle
    key."""
    docs = _read(spark, sf_dir, "documents")
    from pypond_spark.datapipe.decontam import split_leakage
    out = split_leakage(docs, {"train": 0.98, "val": 0.01, "test": 0.01})
    return out.select("doc_id", "n_shingles", "n_leaked", "leak_share")


def q_minhash_jaccard_est(spark, sf_dir):
    """Estimator audit (datapipe/dedup.py::minhash_jaccard_estimate):
    per LSH candidate pair, signature-estimated Jaccard (k=8 components,
    stderr ~0.35) vs exact shingle Jaccard and the absolute error — how
    you size num_hashes/band geometry on a real corpus."""
    docs = _read(spark, sf_dir, "documents")
    pairs = dp_dedup.lsh_candidate_pairs(docs).select("id_a", "id_b")
    out = dp_dedup.minhash_jaccard_estimate(docs, pairs)
    return out.select("id_a", "id_b", "jaccard_est", "jaccard_exact",
                      "abs_err")


def q_stream_distinct_hourly(spark, sf_dir):
    """Streaming exact distinct users per hour x type (streaming/
    stream.py::stream_distinct_counts): two CHAINED stateful operators
    (keyed dedup store -> windowed count store) in one query — the
    batch count_distinct oracle verifies the drained result exactly,
    including keys recurring across micro-batch boundaries."""
    from pypond_spark.streaming import stream_distinct_counts
    sdf = _events_stream(spark, sf_dir)
    out = stream_distinct_counts(sdf, "user_id", window="1h",
                                 partition_by=["event_type"])
    result = run_available_now(out, "complete")
    return result.select(F.unix_millis("begin").alias("begin_ms"),
                         "event_type", "u_user_id")


def q_rollup_daily_local(spark, sf_dir):
    """Local-time calendar rollup (§2.6's utc=False path, reference
    series.py:1278-1331 parity): daily buckets in America/New_York wall
    time via from_utc_timestamp. The events span January only, so the
    oracle can state the EST offset as an explicit -5h interval — no
    dependence on the oracle engine's session timezone (a DST-crossing
    range would need real tz arithmetic; the unit tests cover that)."""
    ts = _events_ts(spark, sf_dir)
    out = ts.daily_rollup(
        {"v_sum": {"value": "sum"}, "n": {"value": "count"}},
        group_by="event_type", utc=False, tz="America/New_York")
    return out.df.select("index", "event_type",
                         F.round("v_sum", 6).alias("v_sum"), "n")


def q_rollup_daily_local_dst(spark, sf_dir):
    """DST-boundary golden for the utc=False calendar rollup (r6 verdict
    item 5; reference series.py:1278-1331 localtime semantics): the
    January events are shifted in-plan by whole-day intervals onto the
    America/New_York 2025 spring-forward (23h local day, transition
    instant 2025-03-09 07:00 UTC) and fall-back (25h local day,
    2025-11-02 06:00 UTC) windows, then daily-rolled-up in NY wall time —
    so the engine's real tz database handles both transitions.  The
    oracle states each branch's UTC offset as an explicit CASE on the
    known transition instant (valid for the whole shifted range), never
    touching the oracle engine's session timezone or ICU — the r4
    driver-env-drift lesson."""
    from pypond_spark import TimeSeries
    ev = _events_df(spark, sf_dir)
    spring = ev.withColumn("ts", F.col("ts") + F.expr("INTERVAL 425 DAYS")) \
        .withColumn("branch", F.lit("spring"))
    fall = ev.withColumn("ts", F.col("ts") + F.expr("INTERVAL 655 DAYS")) \
        .withColumn("branch", F.lit("fall"))
    df = spring.unionByName(fall).withColumnRenamed("ts", "time")
    ts = TimeSeries(df, "time", {"name": "events_dst"})
    out = ts.daily_rollup(
        {"v_sum": {"value": "sum"}, "n": {"value": "count"}},
        group_by="branch", utc=False, tz="America/New_York")
    return out.df.select("index", "branch",
                         F.round("v_sum", 6).alias("v_sum"), "n")


def q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composition (datapipe/similarity.py::ivfpq_topk, BLAS
    pq_encode, pq_build codebooks): coarse IVF routing prunes to
    nprobe=2 of 8 cells, PQ ADC scores only those cells' 8-byte codes —
    the production billion-vector layout, both halves recomputed
    independently by the SQL oracle (IVF k-means CTEs + PQ k-means CTEs
    joined on the probe filter)."""
    emb, books = _pq_books(spark, sf_dir)
    q = [float(x) for x in
         emb.where(F.col("vec_id") == 1).first()["embedding"]]
    cents = _ivf_cents(spark, sf_dir, emb)
    out = dp_sim.ivfpq_topk(emb, q, cents, books, k=5, nprobe=2)
    return out.select("rank", "vec_id", "adc")


def q_tpch_q9_shape(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit by nation and year): profit =
    revenue - qty * half-retail (p_retailprice stands in for the absent
    partsupp supplycost — same join topology, same DECIMAL discipline).
    part/supplier/nation broadcast; lineitem->orders is the one
    repartition join."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part") \
        .where(F.col("p_type") == "SMALL") \
        .select("p_partkey", "p_retailprice")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey",
                                                   "o_orderdate")
    supp = _read(spark, sf_dir, "supplier").select("s_suppkey",
                                                   "s_nationkey")
    nat = _read(spark, sf_dir, "nation")
    amount = (_rev_decimal()
              - (F.col("p_retailprice").cast("decimal(12,2)")
                 * F.lit(0.5).cast("decimal(12,2)"))
              .cast("decimal(12,2)")
              * F.col("l_quantity").cast("decimal(12,2)"))
    j = (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
         .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
         .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
         .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")))
    return (j.groupBy(F.col("n_name").alias("nation"),
                      F.year("o_orderdate").cast("long").alias("o_year"))
            .agg(F.sum(amount).cast("double").alias("sum_profit"),
                 F.count("*").alias("n_items")))


def q_tpch_q12_shape(spark, sf_dir):
    """TPC-H Q12 shape (shipping-priority audit): late lineitems
    (shipped > 60 days after order) per return flag, split into
    high/low-priority conditional counts in ONE aggregation — the
    classic CASE-inside-sum shape; one repartition join on orderkey."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders").select("o_orderkey",
                                                   "o_orderdate",
                                                   "o_orderpriority")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")) \
        .where(late)
    return (j.groupBy("l_returnflag")
            .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count")))


def q_dense_rollup_1h(spark, sf_dir):
    """Rollup densification (operators/aggregate.py::densify_rollup):
    every hour in each type's [first, last] span becomes a row — empty
    hours as explicit (0, 0) — the rollup-level dual of event fill.
    All work runs on the bucket frame; the fact table is scanned once
    by the underlying rollup."""
    from pypond_spark.operators.aggregate import densify_rollup
    ts = _events_ts(spark, sf_dir)
    roll = ts.fixed_window_rollup(
        "1h", {"v_sum": {"value": "sum"}, "n": {"value": "count"}},
        group_by="event_type").df
    out = densify_rollup(roll, "1h", group_by="event_type",
                         fill={"v_sum": 0.0, "n": 0})
    return out.select("index", "event_type",
                      F.round("v_sum", 6).alias("v_sum"), "n")


def q_incremental_rollup(spark, sf_dir):
    """Incremental view maintenance (operators/incremental.py::
    merge_rollups): the hourly x type rollup is built from a BASE slice
    (before Jan 20) and a DELTA slice, aggregated separately and merged
    by algebraic combination — the fact table is scanned once per slice,
    never re-scanned on merge. The oracle is the from-scratch rollup
    over the full range: the gate proves merge == recompute."""
    from pypond_spark.operators.incremental import merge_rollups
    # mid-hour cut: the 12:00 bucket of Jan 20 has rows in BOTH slices,
    # so the gate exercises genuine cross-slice bucket merging, not just
    # a disjoint union
    cut = F.lit("2024-01-20 12:30:00").cast("timestamp")
    spec = {"v_sum": {"value": "sum"}, "n": {"value": "count"},
            "v_min": {"value": "min"}, "v_max": {"value": "max"}}

    def rollup(df):
        ts = TimeSeries(df.withColumnRenamed("ts", "time"), "time",
                        {"name": "events"})
        return ts.fixed_window_rollup("1h", spec, group_by="event_type") \
            .df.select("index", "event_type", "v_sum", "n", "v_min",
                       "v_max")

    ev = _events_df(spark, sf_dir)
    base = rollup(ev.where(F.col("ts") < cut))
    delta = rollup(ev.where(F.col("ts") >= cut))
    merged = merge_rollups(
        [base, delta], keys=["index", "event_type"],
        merge_spec={"v_sum": "sum", "n": "count",
                    "v_min": "min", "v_max": "max"},
        derive={"v_avg": ("v_sum", "n")})
    return merged.select("index", "event_type",
                         F.round("v_sum", 6).alias("v_sum"), "n",
                         "v_min", "v_max",
                         F.round("v_avg", 6).alias("v_avg"))


def q_melt_lineitem(spark, sf_dir):
    """Wide -> long reshape (TimeSeries.melt / Spark native unpivot):
    three measure columns become (metric, value) pairs — a pure
    generate-side transform, no shuffle, no UDF; the 3x row fan-out is
    the reshape's inherent size."""
    li = _read(spark, sf_dir, "lineitem") \
        .withColumnRenamed("l_shipdate", "time") \
        .select("time", "l_orderkey", "l_linenumber", "l_quantity",
                "l_discount", "l_tax")
    ts = TimeSeries(li, "time", {"name": "lineitem"})
    out = ts.melt(["l_quantity", "l_discount", "l_tax"])
    return out.df.select("l_orderkey", "l_linenumber", "metric",
                         F.round("value_m", 6).alias("value_m"))


def q_quantile_bins(spark, sf_dir):
    """Equal-frequency decile binning per event_type
    (TimeSeries.quantile_bins, ntile window): the rank-based dual of
    ccnet_buckets' fixed cut points; event_id tiebreak pins equal values
    so both engines assign identical bins. One exchange + sort."""
    ts = _events_ts(spark, sf_dir)
    out = ts.quantile_bins(10, "value", partition_by=["event_type"],
                           tiebreak="event_id")
    return out.df.select("event_id", "event_type",
                         F.col("value_bin").cast("long").alias("value_bin"))


def q_holt_winters_per_user(spark, sf_dir):
    """Holt-Winters additive smoothing per user (operators/rolling.py::
    holt_winters): level + trend + 8-slot seasonal, sample-indexed
    phase. alpha=beta=gamma=0.5 keeps every step an exact IEEE halving,
    so the recursive-CTE oracle (seasonal list carried through the
    recursion) matches bit-for-bit — no rounding."""
    from pypond_spark.operators.rolling import holt_winters
    df = _events_df(spark, sf_dir).withColumnRenamed("ts", "time")
    out = holt_winters(df, "value", period=8, alpha=0.5, beta=0.5,
                       gamma=0.5, partition_by=["user_id"],
                       tiebreak="event_id")
    return out.select("event_id", "user_id", _ms().alias("t_ms"),
                      "value_level", "value_trend", "value_seasonal")


def q_stream_holt_winters(spark, sf_dir):
    """Streaming twin of holt_winters_per_user (streaming/stream.py::
    stream_holt_winters): (level, trend, last-seasonal, phase,
    seasonal[8]) state per key — O(period), flat in volume; identical
    recurrence, so the DuckDB oracle is the batch query's SQL
    verbatim."""
    from pypond_spark.streaming import stream_holt_winters
    sdf = _events_stream(spark, sf_dir)
    out = stream_holt_winters(sdf, "value", period=8, alpha=0.5,
                              beta=0.5, gamma=0.5,
                              partition_by=["user_id"],
                              tiebreak="event_id",
                              carry_cols=["event_id"])
    result = run_available_now(out, "append")
    return result.select("event_id", "user_id", "t_ms",
                         "value_level", "value_trend", "value_seasonal")


def q_salted_join_revenue(spark, sf_dir):
    """Skew-salted fact/fact join (operators/skew.py::salted_join):
    lineitem's salt spreads each orderkey over 8 reducers, orders
    replicates 8x, and the oracle is the PLAIN join — the gate verifies
    the salted plan is row-for-row identical. The deterministic row-hash
    salt (never rand()) keeps task retries from corrupting the join."""
    from pypond_spark.operators.skew import salted_join
    li = _read(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_extendedprice", "l_discount")
    orders = _read(spark, sf_dir, "orders") \
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    j = salted_join(li, orders, on="l_orderkey", salt=8)
    return (j.groupBy("o_orderpriority")
            .agg(F.sum(_rev_decimal()).cast("double").alias("revenue"),
                 F.count("*").alias("n_items")))


def q_rolling_corr_24h(spark, sf_dir):
    """Trailing-24h rolling Pearson r + OLS beta between hourly click
    and view means (operators/correlate.py::rolling_correlation): one
    corpus shuffle into the conditional-agg bucket frame, then six
    incremental RANGE-window sums — O(1) state per row, no UDF, no
    per-row frame re-scan."""
    from pypond_spark.operators.correlate import rolling_correlation
    df = _events_df(spark, sf_dir).withColumnRenamed("ts", "time")
    out = rolling_correlation(df, "event_type", "click", "view",
                              field="value", bucket="1h", lookback=24)
    return out.select("pos",
                      (F.round("r", 6) + F.lit(0.0)).alias("r"),
                      (F.round("beta", 6) + F.lit(0.0)).alias("beta"),
                      "n_pairs")


def q_stream_sessions(spark, sf_dir):
    """Streaming sessionization (streaming/stream.py::stream_sessions):
    3-long state per key, sessions emitted as they CLOSE across
    micro-batch boundaries. The oracle is the batch session rollup MINUS
    each key's final session — the one still open at stream end, whose
    closure no next event ever signals (documented semantics; pair with
    a processing-time timeout for open-ended expiry)."""
    from pypond_spark.streaming import stream_sessions
    sdf = _events_stream(spark, sf_dir)
    out = stream_sessions(sdf, window="1h", partition_by=["user_id"])
    result = run_available_now(out, "append")
    return result.select("user_id", "begin_ms", "end_ms", "n")


def q_acf_hourly_by_type(spark, sf_dir):
    """Per-type autocorrelation of hourly means at lags 1/2/3/24
    (operators/correlate.py::autocorrelation): lag lives on the BUCKET
    axis (missing hours contribute no pair), the corpus shuffles once
    into the bucket frame, and the lag self-join + corr run on that
    checkpointed frame only. Lag 24 is the daily-cycle probe."""
    from pypond_spark.operators.correlate import autocorrelation
    df = _events_df(spark, sf_dir).withColumnRenamed("ts", "time")
    out = autocorrelation(df, "value", lags=(1, 2, 3, 24), bucket="1h",
                          partition_by=["event_type"])
    return out.select("event_type", "lag",
                      F.round("r", 6).alias("r"), "n_pairs")


def q_theilsen_by_user(spark, sf_dir):
    """Per-user Theil-Sen robust trend over hourly bucket means
    (operators/correlate.py::theil_sen): median of pairwise slopes +
    median intercept. The O(B^2) pair term is bounded by bucketing
    (~60 buckets/user here); the corpus-sized pass is the one bucket
    groupBy. Median interpolation matches DuckDB's quantile_cont."""
    from pypond_spark.operators.correlate import theil_sen
    df = _events_df(spark, sf_dir).withColumnRenamed("ts", "time")
    out = theil_sen(df, "value", bucket="1h", partition_by=["user_id"])
    return out.select("user_id",
                      F.round("ts_slope", 6).alias("ts_slope"),
                      F.round("ts_intercept", 6).alias("ts_intercept"),
                      "n_pairs", "n_buckets")


def _rev_decimal():
    """Shared DECIMAL revenue term (see tpch_q6 for why not double)."""
    return (F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1).cast("decimal(12,2)")
               - F.col("l_discount").cast("decimal(12,2)")))


def q_tpch_q7_shape(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping between two nations): lineitem ->
    orders is the only repartition join (uniform orderkey); supplier,
    customer and both nation legs broadcast. The (supp, cust) nation-pair
    disjunction is evaluated after the broadcasts — Catalyst folds the two
    name filters into the tiny dimension scans, so the fact side never
    re-scans. DECIMAL money math."""
    li = _read(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    orders = _read(spark, sf_dir, "orders")
    supp = _read(spark, sf_dir, "supplier")
    cust = _read(spark, sf_dir, "customer")
    nat = _read(spark, sf_dir, "nation")
    n1 = nat.select(F.col("n_nationkey").alias("n1_key"),
                    F.col("n_name").alias("supp_nation"))
    n2 = nat.select(F.col("n_nationkey").alias("n2_key"),
                    F.col("n_name").alias("cust_nation"))
    pair = (((F.col("supp_nation") == "NATION_1")
             & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2")
               & (F.col("cust_nation") == "NATION_1")))
    j = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
         .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
         .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
         .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
         .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
         .where(pair))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").cast("long").alias("l_year"))
            .agg(F.sum(_rev_decimal()).cast("double").alias("revenue"),
                 F.count("*").alias("n_items")))


def q_tpch_q8_shape(spark, sf_dir):
    """TPC-H Q8 shape (national market share): NATION_3 suppliers' share
    of ECONOMY-part revenue sold to AMERICA customers, per order year.
    Five broadcast dims around one orders<->lineitem repartition join;
    numerator and denominator are conditional DECIMAL sums in the SAME
    aggregation — one pass, no self-join."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part") \
        .where(F.col("p_type") == "ECONOMY").select("p_partkey")
    orders = _read(spark, sf_dir, "orders")
    supp = _read(spark, sf_dir, "supplier")
    cust = _read(spark, sf_dir, "customer")
    nat = _read(spark, sf_dir, "nation")
    reg = _read(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    n1 = nat.select(F.col("n_nationkey").alias("n1_key"),
                    F.col("n_name").alias("supp_nation"))
    n2 = nat.select(F.col("n_nationkey").alias("n2_key"),
                    F.col("n_regionkey").alias("n2_region"))
    rev = _rev_decimal()
    nat_rev = F.sum(F.when(F.col("supp_nation") == "NATION_3", rev)
                    .otherwise(F.lit(0).cast("decimal(12,2)")))
    j = (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
         .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
         .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
         .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
         .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
         .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
         .join(F.broadcast(reg), F.col("n2_region") == F.col("r_regionkey")))
    return (j.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
            .agg(F.try_divide(nat_rev.cast("double"),
                              F.sum(rev).cast("double")).alias("mkt_share"),
                 F.sum(rev).cast("double").alias("total_revenue"),
                 F.count("*").alias("n_items")))


def q_tpch_q13_shape(spark, sf_dir):
    """TPC-H Q13 shape (customer order-count distribution): LEFT join so
    customers whose only orders are urgent land in the zero bucket, then
    a double aggregation. The join shuffles both sides on custkey and the
    per-customer count REUSES that partitioning (no extra exchange —
    verified in the plan); the distribution groupBy is over a
    customer-count-sized frame."""
    cust = _read(spark, sf_dir, "customer").select("c_custkey")
    orders = _read(spark, sf_dir, "orders") \
        .where(F.col("o_orderpriority") != "1-URGENT") \
        .select("o_custkey", "o_orderkey")
    per_cust = (cust.join(orders, F.col("c_custkey") == F.col("o_custkey"),
                          "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").alias("custdist")))


def q_tpch_q15_shape(spark, sf_dir):
    """TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
    keep the max. The "= (SELECT max(..))" scalar subquery becomes a
    broadcast join against a 1-row aggregate — no single-partition window
    over the whole supplier frame. Equality is tested on the exact
    DECIMAL sum (double only at output), so the winner set is
    bit-deterministic cross-engine."""
    li = _read(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp")))
    supp = _read(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (li.groupBy("l_suppkey")
           .agg(F.sum(_rev_decimal()).alias("__rev")))
    mx = rev.agg(F.max("__rev").alias("__mx"))
    return (rev.join(F.broadcast(mx), F.col("__rev") == F.col("__mx"))
            .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_suppkey", "s_name",
                    F.col("__rev").cast("double").alias("total_revenue")))


def q_tpch_q17_shape(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity revenue): the correlated per-part
    avg-quantity subquery becomes a self-aggregation of the brand's
    lineitems joined back by partkey — both the agg and the join-back are
    broadcast-sized because the brand filter lands on the part scan
    first. The 0.2*avg threshold is rounded to 6dp on BOTH engines so row
    membership can't flip on a summation-order ulp."""
    part = _read(spark, sf_dir, "part") \
        .where(F.col("p_brand") == "Brand#5").select("p_partkey")
    li = (_read(spark, sf_dir, "lineitem")
          .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")))
    avg_q = (li.groupBy("p_partkey")
             .agg(F.round(F.lit(0.2) * F.avg("l_quantity"), 6)
                  .alias("__thresh"))
             .withColumnRenamed("p_partkey", "__pk"))
    small = (li.join(F.broadcast(avg_q), F.col("p_partkey") == F.col("__pk"))
             .where(F.col("l_quantity") < F.col("__thresh")))
    return small.agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
         .cast("double") / F.lit(7.0)).alias("avg_yearly"),
        F.count("*").alias("n_items"))


def q_tpch_q22_shape(spark, sf_dir):
    """TPC-H Q22 shape (global-balance anti join): customers with
    above-average positive balance and NO urgent 1998+ order. The global
    avg is a 1-row aggregate broadcast into the filter (rounded 6dp both
    engines); NOT EXISTS is a left-anti join shuffling on the uniform
    custkey; final rollup groups by nation."""
    cust = _read(spark, sf_dir, "customer")
    urgent = (_read(spark, sf_dir, "orders")
              .where((F.col("o_orderpriority") == "1-URGENT")
                     & (F.col("o_orderdate")
                        >= F.lit("1998-01-01").cast("timestamp")))
              .select("o_custkey"))
    avg_bal = (cust.where(F.col("c_acctbal") > 0)
               .agg(F.round(F.avg("c_acctbal"), 6).alias("__avg")))
    rich = (cust.join(F.broadcast(avg_bal))
            .where(F.col("c_acctbal") > F.col("__avg")))
    lonely = rich.join(urgent, F.col("c_custkey") == F.col("o_custkey"),
                       "left_anti")
    return (lonely.groupBy(F.col("c_nationkey").cast("long")
                           .alias("c_nationkey"))
            .agg(F.count("*").alias("numcust"),
                 F.round(F.sum("c_acctbal"), 2).alias("totacctbal")))


def q_tpch_q21_shape(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    this schema: lineitem has no receipt/commit dates, so "late" is
    shipped >90 days after o_orderdate — the EXISTS (another supplier on
    the order) / NOT EXISTS (another LATE supplier) pair is expressed as
    one per-order distinct-supplier aggregate instead of two correlated
    self-joins: n_sup > 1 AND n_late_sup = 1 against a late (order,
    supplier) pair is exactly the exists/not-exists conjunction, and it
    costs ONE shuffle on the uniform orderkey instead of three.  The
    supplier->nation dim filter is a broadcast at the end."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    orders = (_read(spark, sf_dir, "orders")
              .where(F.col("o_orderstatus") == "F")
              .select("o_orderkey", "o_orderdate"))
    base = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .withColumn("__late",
                        F.col("l_shipdate")
                        > F.col("o_orderdate")
                        + F.expr("INTERVAL 90 DAYS")))
    # ONE shuffle on the uniform orderkey: the per-order distinct late
    # suppliers travel as a bounded array (lines-per-order is single
    # digits), so the semi+anti pair needs no second distinct/join-back
    # (plan: 5 exchanges -> 3, audit below)
    per_order = (base.groupBy("l_orderkey")
                 .agg(F.count_distinct("l_suppkey").alias("__n_sup"),
                      F.array_distinct(F.collect_list(
                          F.when(F.col("__late"), F.col("l_suppkey"))))
                      .alias("__late_sups")))
    waiting = (per_order
               .where((F.col("__n_sup") > 1)
                      & (F.size("__late_sups") == 1))
               .select("l_orderkey",
                       F.element_at("__late_sups", 1).alias("l_suppkey")))
    sup = (_read(spark, sf_dir, "supplier")
           .join(_read(spark, sf_dir, "nation"),
                 F.col("s_nationkey") == F.col("n_nationkey"))
           .where(F.col("n_name").isin(*[f"NATION_{i}"
                                         for i in range(5)]))
           .select("s_suppkey", "s_name"))
    return (waiting.join(F.broadcast(sup),
                         F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy("s_name")
            .agg(F.count("*").alias("numwait")))


def q_tpch_q2_shape(spark, sf_dir):
    """TPC-H Q2 shape (min-cost supplier per part), adapted: the schema
    has no partsupp, so the part-supplier cost relation is derived from
    lineitem as min unit price per (partkey, suppkey) — a single division
    (IEEE-identical cross-engine) plus an order-independent min, so the
    correlated "cost = (SELECT min(cost) ...)" equality join is
    bit-deterministic.  Plan: the part filter (LARGE, size<=15) broadcasts
    into the lineitem scan, so the pair agg shuffles only the filtered
    fact slice; the per-part min is a <=#filtered-parts aggregate joined
    back by broadcast (the q15/q17 correlated-subquery pattern); supplier
    -> nation -> region are chained broadcasts. One real shuffle total."""
    part = (_read(spark, sf_dir, "part")
            .where((F.col("p_type") == "LARGE") & (F.col("p_size") <= 15))
            .select("p_partkey", "p_name", "p_size"))
    li = (_read(spark, sf_dir, "lineitem")
          .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")))
    cost = (li.groupBy("p_partkey", "p_name", "p_size", "l_suppkey")
            .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
                 .alias("__cost")))
    best = (cost.groupBy(F.col("p_partkey").alias("__pk"))
            .agg(F.min("__cost").alias("__best")))
    sup = (_read(spark, sf_dir, "supplier")
           .join(F.broadcast(_read(spark, sf_dir, "nation")),
                 F.col("s_nationkey") == F.col("n_nationkey"))
           .join(F.broadcast(_read(spark, sf_dir, "region")),
                 F.col("n_regionkey") == F.col("r_regionkey"))
           .where(F.col("r_name") == "EUROPE")
           .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    return (cost.join(F.broadcast(best),
                      (F.col("p_partkey") == F.col("__pk"))
                      & (F.col("__cost") == F.col("__best")))
            .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
            .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
                    F.col("p_size").cast("long").alias("p_size"),
                    F.round("__cost", 6).alias("min_cost")))


def q_tpch_q11_shape(spark, sf_dir):
    """TPC-H Q11 shape (important stock HAVING a global-share threshold),
    adapted: part "value" is the DECIMAL-exact discounted revenue summed
    over lineitems shipped by ASIA suppliers (the ps_supplycost*availqty
    stand-in).  The "(SELECT sum(...) * fraction)" scalar becomes a 1-row
    aggregate broadcast into the HAVING filter; DECIMAL sums make the
    threshold compare exact on both engines (no summation-order ulp can
    flip row membership).  Plan: supplier->nation->region broadcast chain
    prunes the fact scan map-side; ONE groupBy-partkey shuffle; the
    global total reuses the same aggregate output (tiny frame)."""
    sup = (_read(spark, sf_dir, "supplier")
           .join(F.broadcast(_read(spark, sf_dir, "nation")),
                 F.col("s_nationkey") == F.col("n_nationkey"))
           .join(F.broadcast(_read(spark, sf_dir, "region")),
                 F.col("n_regionkey") == F.col("r_regionkey"))
           .where(F.col("r_name") == "ASIA")
           .select("s_suppkey"))
    li = (_read(spark, sf_dir, "lineitem")
          .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey")))
    value = (li.groupBy("l_partkey")
             .agg(F.sum(_rev_decimal()).alias("__val")))
    total = value.agg(F.sum("__val").alias("__tot"))
    return (value.join(F.broadcast(total))
            .where(F.col("__val")
                   > F.col("__tot") * F.lit("0.001").cast("decimal(4,3)"))
            .select("l_partkey",
                    F.col("__val").cast("double").alias("part_value")))


def q_tpch_q16_shape(spark, sf_dir):
    """TPC-H Q16 shape (supplier count per part descriptor), adapted: the
    part-supplier relation is the distinct (partkey, suppkey) pairs in
    lineitem; "customer complaints" suppliers are the s_acctbal<0 ones,
    removed by a broadcast left-anti join.  Pure count-distinct over
    strings/ints — no float hazard.  Plan: the part attribute filter
    broadcasts into the fact scan; ONE shuffle builds the distinct pairs
    AND the per-descriptor distinct count (partial aggregation map-side);
    the anti join is a 6-row broadcast."""
    part = (_read(spark, sf_dir, "part")
            .where((F.col("p_brand") != "Brand#1")
                   & (F.col("p_type") != "SMALL")
                   & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34,
                                          39, 44, 49))
            .select("p_partkey", "p_brand", "p_type", "p_size"))
    bad_sup = (_read(spark, sf_dir, "supplier")
               .where(F.col("s_acctbal") < 0).select("s_suppkey"))
    pairs = (_read(spark, sf_dir, "lineitem")
             .select("l_partkey", "l_suppkey").distinct()
             .join(F.broadcast(bad_sup),
                   F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
             .join(F.broadcast(part),
                   F.col("l_partkey") == F.col("p_partkey")))
    return (pairs.groupBy("p_brand", "p_type",
                          F.col("p_size").cast("long").alias("p_size"))
            .agg(F.count_distinct("l_suppkey").alias("supplier_cnt")))


def q_tpch_q20_shape(spark, sf_dir):
    """TPC-H Q20 shape (excess-stock suppliers via nested semi-joins),
    adapted: no ps_availqty, so a pair qualifies when its 1996 shipped
    quantity exceeds half its 1995 quantity (both DECIMAL-exact sums, so
    the 0.5x threshold compare cannot flip on summation order).  The
    reference's IN(part-name-filter) nests as a broadcast-semi into the
    pair aggregate, and suppliers left-semi join the qualifying pairs —
    the same two-level semi-join shape as the real Q20, but the inner
    correlated year-quantity subquery folds into conditional sums inside
    ONE groupBy(partkey, suppkey) shuffle instead of a second aggregate
    + join-back."""
    small = (_read(spark, sf_dir, "part")
             .where(F.col("p_name").like("small%")).select("p_partkey"))
    li = (_read(spark, sf_dir, "lineitem")
          .join(F.broadcast(small), F.col("l_partkey") == F.col("p_partkey"))
          .withColumn("__q", F.col("l_quantity").cast("decimal(12,2)")))
    y95 = (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp")) \
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    y96 = (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")) \
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    pair = (li.groupBy("l_partkey", "l_suppkey")
            .agg(F.sum(F.when(y95, F.col("__q"))).alias("__q95"),
                 F.sum(F.when(y96, F.col("__q"))).alias("__q96")))
    qualifying = (pair.where(
        F.col("__q95").isNotNull() & F.col("__q96").isNotNull()
        & (F.col("__q96")
           > F.col("__q95") * F.lit("0.5").cast("decimal(2,1)")))
        .select("l_suppkey").distinct())
    sup = (_read(spark, sf_dir, "supplier")
           .join(F.broadcast(_read(spark, sf_dir, "nation")),
                 F.col("s_nationkey") == F.col("n_nationkey"))
           .where(F.col("n_regionkey").isin(0, 1))
           .select("s_suppkey", "s_name", "n_name"))
    # qualifying is a distinct supplier-key set (bounded by |supplier|, a
    # dimension) — broadcast it so the semi-join never plans as SMJ
    return sup.join(F.broadcast(qualifying),
                    F.col("s_suppkey") == F.col("l_suppkey"),
                    "left_semi")


def q_timerange_algebra(spark, sf_dir):
    """TimeRange interval algebra at table scale (timerange.py column
    duals of reference range.py:358-474): per user, the [min ts, max ts]
    activity span of each event_type, then every type pair's
    overlaps (reference-strict partial overlap, range.py:396-412) /
    intersects (any shared instant) / disjoint / contains / within
    verdicts plus intersection and extents durations. Pair fan-out is bounded by |event_types|^2 per
    user (<=25), so the self-join is a broadcast-sized dimension blow-up,
    never corpus x corpus."""
    from pypond_spark.timerange import (range_within, ranges_disjoint,
                                        ranges_overlap,
                                        ranges_overlap_strict)
    ev = _events_df(spark, sf_dir)
    spans = (ev.groupBy("user_id", "event_type")
             .agg(F.min(F.unix_millis("ts")).alias("b"),
                  F.max(F.unix_millis("ts")).alias("e")))
    a = spans.select("user_id", F.col("event_type").alias("type_a"),
                     F.col("b").alias("ba"), F.col("e").alias("ea"))
    b = spans.select(F.col("user_id").alias("__u"),
                     F.col("event_type").alias("type_b"),
                     F.col("b").alias("bb"), F.col("e").alias("eb"))
    pairs = a.join(b, (F.col("user_id") == F.col("__u"))
                   & (F.col("type_a") < F.col("type_b"))).drop("__u")
    inter = (F.when(~ranges_disjoint("ba", "ea", "bb", "eb"),
                    F.least("ea", "eb") - F.greatest("ba", "bb")))
    return pairs.select(
        "user_id", "type_a", "type_b",
        ranges_overlap_strict("ba", "ea", "bb", "eb").alias("overlaps"),
        ranges_overlap("ba", "ea", "bb", "eb").alias("intersects"),
        ranges_disjoint("ba", "ea", "bb", "eb").alias("disjoint"),
        ((F.col("ba") <= F.col("bb"))
         & (F.col("eb") <= F.col("ea"))).alias("a_contains_b"),
        range_within("ba", "ea", "bb", "eb").alias("a_within_b"),
        inter.alias("intersection_ms"),
        (F.greatest("ea", "eb") - F.least("ba", "bb")).alias("extents_ms"))


def q_chronology(spark, sf_dir):
    """is_chronological at table scale (series.py:260 — reference
    collection.py:482-502): per user, inversion count of the time column
    against arrival order (event_id), and the boolean verdict. One
    window shuffle on the series key."""
    ev = _events_df(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("event_id")
    prev = F.lag(F.unix_millis("ts")).over(w)
    inv = (F.unix_millis("ts") < prev).cast("int")
    per = ev.select("user_id", F.coalesce(inv, F.lit(0)).alias("__inv"))
    return (per.groupBy("user_id")
            .agg(F.count("*").alias("n_events"),
                 F.sum("__inv").cast("long").alias("n_inversions"))
            .withColumn("is_chronological", F.col("n_inversions") == 0))


#: fixed probe instants for q_bisect_at_time (UTC 2024, inside the
#: events range) — constants shared verbatim by the DuckDB oracle
_BISECT_PROBES_MS = [1706745600000,   # 2024-02-01
                     1711929600000,   # 2024-04-01
                     1717200000000,   # 2024-06-01
                     1722470400000,   # 2024-08-01
                     1727740800000,   # 2024-10-01
                     1733011200000]   # 2024-12-01


def q_bisect_at_time(spark, sf_dir):
    """bisect/at_time semantics at table scale (series.py:303,331 —
    reference collection.py:292-348): for each (user, probe instant),
    how many events are at-or-before the probe (bisect position + 1) and
    the value of the latest one (at_time), ties to the highest event_id.
    The probe list is a 6-row broadcast dimension, so the range join is
    a bounded map-side multiply (<=6x scan), then one partial-agg
    shuffle on (user, probe)."""
    ev = _events_df(spark, sf_dir)
    probes = spark.createDataFrame(
        [(p,) for p in _BISECT_PROBES_MS], "probe_ms long")
    joined = ev.join(F.broadcast(probes),
                     F.unix_millis("ts") <= F.col("probe_ms"))
    return (joined.groupBy("user_id", "probe_ms")
            .agg(F.count("*").alias("n_at_or_before"),
                 F.round(F.max_by(
                     "value", F.struct(F.unix_millis("ts"), "event_id")),
                     6).alias("value_at"))
            .withColumn("bisect_pos",
                        F.greatest(F.col("n_at_or_before") - 1,
                                   F.lit(0))))


def q_size_valid(spark, sf_dir):
    """size_valid tri-state validity (series.py:131, util.is_valid_col —
    reference is_valid util.py:641-654: None/NaN/'' are invalid) as a
    per-type table aggregate: one conditional count per scan, no second
    pass."""
    from pypond_spark.util import is_valid_col
    ev = _events_df(spark, sf_dir)
    valid = is_valid_col(F.col("value"),
                         ev.schema["value"].dataType)
    return (ev.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.count(F.when(valid, 1)).alias("n_valid"))
            .withColumn("n_invalid",
                        F.col("n_events") - F.col("n_valid")))


def q_collect_window_1d(spark, sf_dir):
    """collect_by_fixed_window as a table op (operators/aggregate.py:236
    — reference series.py:1459-1478 collectByFixedWindow): every event
    keeps its payload and gains index/begin/end columns for its 1d
    bucket; no aggregation, no shuffle (pure narrow projection — the
    window key is derived per row)."""
    from pypond_spark.operators.aggregate import collect_by_fixed_window
    ev = _events_df(spark, sf_dir)
    out = collect_by_fixed_window(ev.select("event_id", "ts", "value"),
                                  "1d", time_col="ts")
    return out.select(
        "event_id", "index",
        F.unix_millis("begin").alias("begin_ms"),
        F.unix_millis("end").alias("end_ms"),
        F.unix_millis("ts").alias("t_ms"),
        F.round("value", 6).alias("value"))


def q_keyed_collections(spark, sf_dir):
    """'<window>--<group>' keyed collections at table scale
    (plans/pipeline.py:182 key composition — reference
    io/output.py:323-330): window_by 1d x group_by event_type, emitting
    each collection's key, size via collect_list(struct), and its full
    (ts,event_id)-ordered event_id roster — so both the key grammar and
    the collected CONTENT hash against the DuckDB list() twin.  One
    partial-aggregable groupBy on (bucket, group); per-collection size
    is bounded (events-per-day-per-type), so collect_list never builds
    an unbounded state blob."""
    from pypond_spark.operators.aggregate import collect_by_fixed_window
    ev = _events_df(spark, sf_dir)
    bucketed = collect_by_fixed_window(
        ev.select("event_id", "ts", "event_type", "value"),
        "1d", time_col="ts")
    collected = F.collect_list(F.struct("ts", "event_id"))
    roster = F.concat_ws(
        ",", F.transform(F.array_sort(collected),
                         lambda s: s.getField("event_id").cast("string")))
    return (bucketed.groupBy("index", "event_type")
            .agg(F.size(collected).cast("long").alias("n_collected"),
                 roster.alias("event_ids"),
                 F.round(F.sum("value"), 6).alias("sum_value"))
            .select(F.concat_ws("--", F.col("index"),
                                F.col("event_type")).alias("collection_key"),
                    "index", "event_type", "n_collected", "event_ids",
                    "sum_value"))


def _driver_verified_rounds() -> dict:
    """``{query name: round of its latest green driver row}`` from the
    committed CORRECTNESS_r*.json snapshots.

    A row counts as driver-verified when it errored out nowhere and either
    hash-matched its DuckDB oracle, or (for the few rows-only queries with
    no SQL twin) row-count-matched.  queries() uses this to self-rotate:
    the driver's per-round snapshot caps at ~50 entries, so queries that
    have never had a driver row must occupy the head of the dict, followed
    by verified queries STALEST-FIRST (lowest last-verified round first) so
    every green row keeps getting re-verified on a rolling basis instead of
    the head being re-sampled forever (the r6 verdict's item 1).  Reading
    the committed snapshots at call time makes the rotation automatic —
    the hand-edited rotation was flagged by both the r4 and r5 verdicts.
    """
    import glob as _glob
    import re as _re
    here = os.path.dirname(os.path.abspath(__file__))
    status: dict[str, bool] = {}
    last_round: dict[str, int] = {}
    # LATEST round containing a query wins: a query that was green in r3
    # but red in the latest snapshot (the r4 token_budget_mix case) must
    # rotate back to the head for re-verification, not stay masked as
    # verified by the old green row
    for path in sorted(_glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                snap = json.load(fh)
        except Exception:
            continue
        for name, row in snap.items():
            if not isinstance(row, dict):
                continue
            green = row.get("err") is None and (
                row.get("hash_match")
                or (row.get("hash_match") is None and row.get("rows_match")))
            status[name] = bool(green)
            last_round[name] = rnd
    return {name: last_round[name]
            for name, green in status.items() if green}


def _driver_verified_names() -> set:
    """Query names whose latest driver CORRECTNESS row is green."""
    return set(_driver_verified_rounds())


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = _query_registry()
    rounds = _driver_verified_rounds()
    names = list(base)
    # stable sort: never-verified (round -1) first in registry order, then
    # verified queries by last-verified round ascending (stalest first)
    names.sort(key=lambda n: rounds.get(n, -1))
    return {n: base[n] for n in names}


def _query_registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Canonical query map in build order.  Do NOT hand-rotate: queries()
    reorders never-driver-verified entries to the front automatically from
    the committed CORRECTNESS_r*.json snapshots."""
    return {
        "stream_tar_ingest": q_stream_tar_ingest,
        "stream_chat_ingest": q_stream_chat_ingest,
        "pdf_triage": q_pdf_triage,
        "audio_id3_tags": q_audio_id3_tags,
        "bm25_topk": q_bm25_topk,
        "hard_negatives_bm25": q_hard_negatives_bm25,
        "decontam_retrieval": q_decontam_retrieval,
        "docx_text_extract": q_docx_text_extract,
        "docx_quality_pipeline": q_docx_quality_pipeline,
        "epub_text_extract": q_epub_text_extract,
        "odt_text_extract": q_odt_text_extract,
        "rtf_text_extract": q_rtf_text_extract,
        "document_router": q_document_router,
        "zip_shard_ingest": q_zip_shard_ingest,
        "zip_sample_pairing": q_zip_sample_pairing,
        "pdf_text_extract": q_pdf_text_extract,
        "pdf_page_stats": q_pdf_page_stats,
        "tar_shard_ingest": q_tar_shard_ingest,
        "tar_sample_pairing": q_tar_sample_pairing,
        "audio_fingerprint_flac": q_audio_fingerprint_flac,
        "audio_fingerprint_aiff": q_audio_fingerprint_aiff,
        "document_router_text": q_document_router_text,
        "feed_entries": q_feed_entries,
        "sitemap_urls": q_sitemap_urls,
        "subtitle_cues": q_subtitle_cues,
        "image_exif": q_image_exif,
        "csv_table_extract": q_csv_table_extract,
        "bucketed_join": q_bucketed_join,
        "code_corpus_pipeline": q_code_corpus_pipeline,
        "image_phash_tiff": q_image_phash_tiff,
        "tar_multimodal_pipeline": q_tar_multimodal_pipeline,
        "warc_gz_members": q_warc_gz_members,
        "pdf_info": q_pdf_info,
        "robots_rules": q_robots_rules,
        "robots_allowed": q_robots_allowed,
        "extract_links": q_extract_links,
        "http_charset": q_http_charset,
        "video_frame_phash": q_video_frame_phash,
        "video_frame_phash_avi": q_video_frame_phash_avi,
        "video_frame_phash_gif": q_video_frame_phash_gif,
        "transcode_payload": q_transcode_payload,
        "crawl_frontier": q_crawl_frontier,
        "audio_meta_sniff": q_audio_meta_sniff,
        "image_orientation": q_image_orientation,
        "image_orient": q_image_orient,
        "robots_crawl_delays": q_robots_crawl_delays,
        "video_near_dups": q_video_near_dups,
        "pagerank3": q_pagerank3,
        "sitemap_locs": q_sitemap_locs,
        "robots_sitemaps": q_robots_sitemaps,
        "image_phash_bmp": q_image_phash_bmp,
        "image_resize": q_image_resize,
        "image_meta_sniff": q_image_meta_sniff,
        "image_meta_jpeg": q_image_meta_jpeg,
        "image_phash_jpeg": q_image_phash_jpeg,
        "image_phash_jpeg_progressive": q_image_phash_jpeg_progressive,
        "image_phash_jpeg_multiscan": q_image_phash_jpeg_multiscan,
        "image_phash_jpeg_lossless": q_image_phash_jpeg_lossless,
        "image_phash_gif": q_image_phash_gif,
        "url_normalize": q_url_normalize,
        "domain_stats": q_domain_stats,
        "warc_responses": q_warc_responses,
        "crawl_ingest": q_crawl_ingest,
        "extract_content": q_extract_content,
        "stream_minhash_dedup_indexed": q_stream_minhash_dedup_indexed,
        "dedup_against_neardup": q_dedup_against_neardup,
        "kn3_logprob_pruned": q_kn3_logprob_pruned,
        "image_phash_png_palette": q_image_phash_png_palette,
        "langid_ngram": q_langid_ngram,
        "langid_ngram_confusion": q_langid_ngram_confusion,
        "stream_attribution_last_touch": q_stream_attribution_last_touch,
        "stream_attribution_first_touch": q_stream_attribution_first_touch,
        "normalize_unicode": q_normalize_unicode,
        "strip_html": q_strip_html,
        "strip_markdown": q_strip_markdown,
        "strip_latex": q_strip_latex,
        "latex_quality_pipeline": q_latex_quality_pipeline,
        "ipynb_cells": q_ipynb_cells,
        "ipynb_text_extract": q_ipynb_text_extract,
        "code_stats": q_code_stats,
        "license_detect": q_license_detect,
        "chat_turns": q_chat_turns,
        "chat_stats": q_chat_stats,
        "chat_render": q_chat_render,
        "image_phash_png": q_image_phash_png,
        "image_phash_png_adam7": q_image_phash_png_adam7,
        "image_phash_bmp_rle8": q_image_phash_bmp_rle8,
        "bpe_bytes_tokenize": q_bpe_bytes_tokenize,
        "bpe_bytes_train_merges": q_bpe_bytes_train_merges,
        "wordpiece_train_merges": q_wordpiece_train_merges,
        "kn3_logprob": q_kn3_logprob,
        "kn3_heldout": q_kn3_heldout,
        "kn3_heldout_pruned": q_kn3_heldout_pruned,
        "stream_attribution_join": q_stream_attribution_join,
        "stream_attribution_outer": q_stream_attribution_outer,
        "isotonic_calibration": q_isotonic_calibration,
        "wordpiece_tokenize": q_wordpiece_tokenize,
        "audio_fingerprint": q_audio_fingerprint,
        "audio_near_dups": q_audio_near_dups,
        "k_anonymity": q_k_anonymity,
        "control_chart": q_control_chart,
        "stream_xchart": q_stream_xchart,
        "calibrate_scores": q_calibrate_scores,
        "quantize_int8": q_quantize_int8,
        "ngram_novelty": q_ngram_novelty,
        "script_stats": q_script_stats,
        "blocklist_stats": q_blocklist_stats,
        "unigram_tokenize": q_unigram_tokenize,
        "image_phash": q_image_phash,
        "longest_match_decontam": q_longest_match_decontam,
        "lsh_capped_pairs": q_lsh_capped_pairs,
        "stream_simhash_dedup": q_stream_simhash_dedup,
        "stream_minhash_dedup": q_stream_minhash_dedup,
        "image_near_dups": q_image_near_dups,
        "unigram_train": q_unigram_train,
        "cusum_hourly_by_user": q_cusum_hourly_by_user,
        "rouge2_pairs": q_rouge2_pairs,
        "pca_embeddings": q_pca_embeddings,
        "mutual_info_type_hour": q_mutual_info_type_hour,
        "bursts_by_type": q_bursts_by_type,
        "chi2_lang_source": q_chi2_lang_source,
        "stream_cusum": q_stream_cusum,
        "rollup_daily_local_dst": q_rollup_daily_local_dst,
        "dedup_docs_longest": q_dedup_docs_longest,
        "char_entropy": q_char_entropy,
        "rrf_quality": q_rrf_quality,
        "decontam_normalized": q_decontam_normalized,
        "pack_bins": q_pack_bins,
        "pack_bins_report": q_pack_bins_report,
        "nb_quality": q_nb_quality,
        "embedding_sign_sketch": q_embedding_sign_sketch,
        "embedding_hamming_dups": q_embedding_hamming_dups,
        "jl_projection": q_jl_projection,
        "bpe_tokenize": q_bpe_tokenize,
        "bpe_train_merges": q_bpe_train_merges,
        "hard_negatives": q_hard_negatives,
        "leakage_safe_splits": q_leakage_safe_splits,
        "oov_stats": q_oov_stats,
        "cms_audit": q_cms_audit,
        "bloom_membership": q_bloom_membership,
        "hll_distinct": q_hll_distinct,
        "editdist_pairs": q_editdist_pairs,
        "heavy_hitters": q_heavy_hitters,
        "stream_hll": q_stream_hll,
        "ann_recall": q_ann_recall,
        "corpus_pipeline": q_corpus_pipeline,
        "winnow_fingerprints": q_winnow_fingerprints,
        "winnow_overlap": q_winnow_overlap,
        "dtw_daily_template": q_dtw_daily_template,
        "stream_bloom": q_stream_bloom,
        "stream_first_seen": q_stream_first_seen,
        "stream_cms_sketch": q_stream_cms_sketch,
        "tpch_q2_shape": q_tpch_q2_shape,
        "tpch_q11_shape": q_tpch_q11_shape,
        "tpch_q16_shape": q_tpch_q16_shape,
        "tpch_q20_shape": q_tpch_q20_shape,
        "token_budget_mix": q_token_budget_mix,
        "pack_sequences": q_pack_sequences,
        "corpus_report": q_corpus_report,
        "expectations": q_expectations,
        "interval_coverage": q_interval_coverage,
        "psi_drift": q_psi_drift,
        "lexical_stats": q_lexical_stats,
        "tpch_q12_shape": q_tpch_q12_shape,
        "bigram_logprob": q_bigram_logprob,
        "stream_align_1h": q_stream_align_1h,
        "stream_fill_pad": q_stream_fill_pad,
        "stream_rate": q_stream_rate,
        "ewma_scan": q_ewma_scan,
        "monthly_rollup": q_monthly_rollup,
        "knn_join": q_knn_join,
        "cusum_by_type": q_cusum_by_type,
        "tpch_q5_shape": q_tpch_q5_shape,
        "tpch_q14_shape": q_tpch_q14_shape,
        "tpch_q18_shape": q_tpch_q18_shape,
        "twa_hourly": q_twa_hourly,
        "holt_per_user": q_holt_per_user,
        "stream_holt": q_stream_holt,
        "cusum_two_sided": q_cusum_two_sided,
        "rolling_median_10m": q_rolling_median_10m,
        "sample_weighted": q_sample_weighted,
        "weighted_take": q_weighted_take,
        "pivot_hourly_types": q_pivot_hourly_types,
        "wire_roundtrip": q_wire_roundtrip,
        "rollup_missing_filters": q_rollup_missing_filters,
        "custom_reducer_midrange": q_custom_reducer_midrange,
        "groupby_callable": q_groupby_callable,
        "as_indexed_events": q_as_indexed_events,
        "filter_map_callable": q_filter_map_callable,
        "fill_pad_max_gap": q_fill_pad_max_gap,
        "rolling_robust_z_1h": q_rolling_robust_z_1h,
        "repeated_spans": q_repeated_spans,
        "tpch_q10_shape": q_tpch_q10_shape,
        "tpch_q19_shape": q_tpch_q19_shape,
        "strip_spans": q_strip_spans,
        "trend_per_user": q_trend_per_user,
        "zipf_slope": q_zipf_slope,
        "tpch_q7_shape": q_tpch_q7_shape,
        "tpch_q8_shape": q_tpch_q8_shape,
        "tpch_q13_shape": q_tpch_q13_shape,
        "tpch_q15_shape": q_tpch_q15_shape,
        "tpch_q17_shape": q_tpch_q17_shape,
        "tpch_q22_shape": q_tpch_q22_shape,
        "acf_hourly_by_type": q_acf_hourly_by_type,
        "theilsen_by_user": q_theilsen_by_user,
        "stream_sessions": q_stream_sessions,
        "rolling_corr_24h": q_rolling_corr_24h,
        "salted_join_revenue": q_salted_join_revenue,
        "holt_winters_per_user": q_holt_winters_per_user,
        "stream_holt_winters": q_stream_holt_winters,
        "melt_lineitem": q_melt_lineitem,
        "quantile_bins": q_quantile_bins,
        "incremental_rollup": q_incremental_rollup,
        "dense_rollup_1h": q_dense_rollup_1h,
        "tpch_q9_shape": q_tpch_q9_shape,
        "pq_codes": q_pq_codes,
        "pq_topk_adc": q_pq_topk_adc,
        "ivfpq_topk": q_ivfpq_topk,
        "rollup_daily_local": q_rollup_daily_local,
        "stream_distinct_hourly": q_stream_distinct_hourly,
        "split_leakage": q_split_leakage,
        "minhash_jaccard_est": q_minhash_jaccard_est,
        "cube_revenue": q_cube_revenue,
        "rollup_hierarchy": q_rollup_hierarchy,
        "anomaly_ensemble": q_anomaly_ensemble,
        "transition_matrix": q_transition_matrix,
        "type_affinity": q_type_affinity,
        "stream_sessions_sum": q_stream_sessions_sum,
        "funnel_latency": q_funnel_latency,
        "stream_transitions": q_stream_transitions,
        "revenue_pareto": q_revenue_pareto,
        "interarrival_stats": q_interarrival_stats,
        "series_describe": q_series_describe,
        "corpus_diff": q_corpus_diff,
        "embedding_drift": q_embedding_drift,
        "throttle_30m": q_throttle_30m,
        "stream_throttle": q_stream_throttle,
        "langid_confusion": q_langid_confusion,
        "session_duration_stats": q_session_duration_stats,
        "user_lifetimes": q_user_lifetimes,
        "rollup_7d": q_rollup_7d,
        # New in round 5 (never driver-sampled): SURVEY §2.7/§2.3
        # unit-only surfaces re-expressed as oracle-backed table queries.
        "timerange_algebra": q_timerange_algebra,
        "chronology": q_chronology,
        "bisect_at_time": q_bisect_at_time,
        "size_valid": q_size_valid,
        # New in round 6: last §2 rows that were unit-only but could
        # carry a SQL twin (r5 verdict item 6).
        "collect_window_1d": q_collect_window_1d,
        "keyed_collections": q_keyed_collections,
        "temperature_mix": q_temperature_mix,
        "tpch_q21_shape": q_tpch_q21_shape,
        "dsir_weights": q_dsir_weights,
        "cluster_sample": q_cluster_sample,
        # --- everything below is driver-verified (cumulative r1-r4) ---
        "chunk_docs": q_chunk_docs,
        "unigram_logprob": q_unigram_logprob,
        "tfidf_top_terms": q_tfidf_top_terms,
        "rolling_10m_stats": q_rolling_10m_stats,
        "zscore_by_user": q_zscore_by_user,
        "ewma_per_user": q_ewma_per_user,
        "take_per_source": q_take_per_source,
        "containment_pairs": q_containment_pairs,
        "interval_join_events": q_interval_join_events,
        "deep_path_fill": q_deep_path_fill,
        "shuffle_shards": q_shuffle_shards,
        "upsample_quality": q_upsample_quality,
        "ngram_top": q_ngram_top,
        "label_centroids": q_label_centroids,
        "stream_rolling_10m": q_stream_rolling_10m,
        "stream_zscore_10m": q_stream_zscore_10m,
        "stream_ewma": q_stream_ewma,
        "value_histogram": q_value_histogram,
        "distinct_users_hourly": q_distinct_users_hourly,
        "tpch_q3": q_tpch_q3,
        "centroid_classify": q_centroid_classify,
        "gaps_per_user": q_gaps_per_user,
        "ohlc_hourly": q_ohlc_hourly,
        "seasonal_anomaly": q_seasonal_anomaly,
        "corr_click_view": q_corr_click_view,
        "chunk_dedup_docs": q_chunk_dedup_docs,
        "incremental_dedup": q_incremental_dedup,
        "semantic_dedup": q_semantic_dedup,
        "json_props_rollup": q_json_props_rollup,
        "source_overlap": q_source_overlap,
        "cumsum_by_user": q_cumsum_by_user,
        "top_movers": q_top_movers,
        "m4_hourly": q_m4_hourly,
        "ccnet_buckets": q_ccnet_buckets,
        "rate_counter_wrap": q_rate_counter_wrap,
        "assign_splits": q_assign_splits,
        "stream_gaps_4h": q_stream_gaps,
        "stream_cumsum": q_stream_cumsum,
        "value_heatmap": q_value_heatmap,
        "tpch_q6": q_tpch_q6,
        "tpch_q4_shape": q_tpch_q4_shape,
        "winsorize_by_type": q_winsorize_by_type,
        "robust_zscore": q_robust_zscore,
        "rank_normalize": q_rank_normalize,
        "funnel_signup": q_funnel_signup,
        "retention_daily": q_retention_daily,
        "rollup_1h_by_type": q_rollup_1h_by_type,
        "rollup_daily": q_rollup_daily,
        "stream_rollup_1h": q_stream_rollup_1h,
        "global_stats_by_type": q_global_stats_by_type,
        "quantile_by_type": q_quantile_by_type,
        "percentile_methods": q_percentile_methods,
        "first_last_by_type": q_first_last_by_type,
        "rate_per_user": q_rate_per_user,
        "rate_no_negative": q_rate_no_negative,
        "align_10m_linear": q_align_10m_linear,
        "align_1h_hold": q_align_1h_hold,
        "asof_signup_purchase": q_asof_signup_purchase,
        "sliding_2h_count": q_sliding_2h_count,
        "session_1h_by_user": q_session_1h_by_user,
        "fill_pad_per_user": q_fill_pad_per_user,
        "fill_zero_limit": q_fill_zero_limit,
        "fill_linear_per_user": q_fill_linear_per_user,
        "select_clean_crop": q_select_clean_crop,
        "collapse_lineitem": q_collapse_lineitem,
        "offset_rename": q_offset_rename,
        "dedup_last_per_hour": q_dedup_last_per_hour,
        "merge_series": q_merge_series,
        "combine_sum_hourly": q_combine_sum_hourly,
        "take2_per_day_type": q_take2_per_day_type,
        "slice_positional": q_slice_positional,
        "tpch_q1": q_tpch_q1,
        "orders_daily": q_orders_daily,
        "dedup_exact_docs": q_dedup_exact_docs,
        "minhash_signature": q_minhash_signature,
        "neardup_pairs_lsh": q_neardup_pairs_lsh,
        "dedup_documents": q_dedup_documents,
        "simhash_docs": q_simhash_docs,
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        "fingerprint_docs": q_fingerprint_docs,
        "gopher_quality": q_gopher_quality,
        "c4_stats": q_c4_stats,
        "repetition_docs": q_repetition_docs,
        "decontam_docs": q_decontam_docs,
        "corpus_filter": q_corpus_filter,
        "ann_topk": q_ann_topk,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "embedding_near_dups": q_embedding_near_dups,
        "embedding_near_dups_lsh": q_embedding_near_dups_lsh,
        "multimodal_features": q_multimodal_features,
        "multimodal_decode_image": q_multimodal_decode_image,
        "multimodal_decode_audio": q_multimodal_decode_audio,
        "pii_redact": q_pii_redact,
        "sample_stratified": q_sample_stratified,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_POS_1H = "CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT)"

# shared by the batch and streaming cumulative queries
_CUMSUM_SQL = """
    SELECT event_id, user_id, epoch_ms(ts) AS t_ms,
           round(sum(value) OVER w, 6) AS v_cum,
           max(value) OVER w AS v_runmax,
           count(value) OVER w AS n_seen
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING)
"""

# shared by the batch and streaming gap queries (identical semantics)
_GAPS_SQL = """
    SELECT user_id, prev_ms AS gap_start_ms, ms AS gap_end_ms,
           ms - prev_ms AS gap_ms
    FROM (
      SELECT user_id, epoch_ms(ts) AS ms,
             lag(epoch_ms(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts) AS prev_ms
      FROM events)
    WHERE ms - prev_ms > 14400000
"""

_NULLIFIED = ("SELECT event_id, user_id, epoch_ms(ts) AS ms, "
              "CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v "
              "FROM events")

# NULL text has no shingle (the library's ngram_explode min_one law);
# empty text keeps its one '' shingle
_SHINGLES = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x != '') AS w
      FROM documents
      WHERE text IS NOT NULL
    ), sh AS (
      SELECT doc_id,
             unnest([array_to_string(w[i:i+2], ' ')
                     for i in generate_series(1, greatest(len(w) - 2, 1))])
             AS shingle
      FROM toks
    )
"""


def _mh_min(k: int) -> str:
    """SQL twin of minhash_signature's derived hash: one md5 per shingle,
    seed-k hash = (h1 + k*h2) mod 2^32 from the digest's two 32-bit
    halves (mirrors datapipe/dedup.py minhash_signature)."""
    h1 = "('0x' || substr(md5(shingle), 1, 8))::BIGINT"
    h2 = "('0x' || substr(md5(shingle), 9, 8))::BIGINT"
    return f"min(({h1} + {k} * {h2}) % 4294967296)"


def _mh_sig_cols(n: int) -> str:
    return ",\n                     ".join(
        f"{_mh_min(k)} AS m{k}" for k in range(n))


def _dedup_comp_cte() -> str:
    """Shared dedup-chain replay (appended after _SHINGLES): MinHash
    signatures -> LSH bands -> candidate pairs -> exact-Jaccard verify at
    0.8 -> undirected reachability -> min-label components.  Used by the
    dedup_documents / dedup_docs_longest / leakage_safe_splits oracles."""
    return f"""
            , sig AS (
              SELECT doc_id,
                     {_mh_sig_cols(8)}
              FROM sh GROUP BY doc_id
            ), bands AS (
              SELECT doc_id, unnest([
                  md5(concat_ws('|', '0', m0, m1, m2, m3)),
                  md5(concat_ws('|', '1', m4, m5, m6, m7))]) AS band
              FROM sig
            ), cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.doc_id < b.doc_id
            ), sets AS (
              SELECT doc_id, list(DISTINCT shingle) AS s FROM sh
              GROUP BY doc_id
            ), ver AS (
              SELECT id_a, id_b
              FROM cand
              JOIN sets sa ON sa.doc_id = cand.id_a
              JOIN sets sb ON sb.doc_id = cand.id_b
              WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                    / (len(sa.s) + len(sb.s)
                       - len(list_intersect(sa.s, sb.s))) >= 0.8
            ), edges AS (
              SELECT id_a AS src, id_b AS dst FROM ver
              UNION SELECT id_b, id_a FROM ver
            ), reach AS (
              SELECT src AS id, src AS r FROM edges
              UNION
              SELECT e.src, reach.r FROM edges e
              JOIN reach ON e.dst = reach.id
            ), comp AS (
              SELECT id, min(r) AS cluster FROM reach GROUP BY id
            )"""


# --- embedding-oracle helpers: the LSH planes and k-means schedule are
# deterministic, so the SQL twins inline the same constants and reproduce
# bucket/centroid math exactly (testdata embeddings are dim=64 at every SF).

_EMB_DIM = 64

_EMB_CTE = """
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                            for x in embedding])) AS nrm
      FROM embeddings
    )
"""


def _sql_vec_lit(vec) -> str:
    return "[" + ", ".join(repr(float(x)) for x in vec) + "]"


def _sql_dot(a: str, b: str, dim: int = _EMB_DIM) -> str:
    """Sequential-fold dot product — same accumulation order as the engine's
    F.aggregate/zip_with fold, so both sides produce identical doubles."""
    return (f"list_sum([{a}[i] * {b}[i] "
            f"for i in generate_series(1, {dim})])")


def _sql_bucket(vec_expr: str, planes) -> str:
    """Sign-LSH bucket id from inlined hyperplane literals (the same
    _planes(dim, nbits, seed) values the Spark path uses)."""
    terms = []
    for b, p in enumerate(planes):
        d = _sql_dot(vec_expr, f"({_sql_vec_lit(p)})")
        terms.append(f"(CASE WHEN {d} > 0 THEN {1 << b} ELSE 0 END)")
    return "(" + "\n       + ".join(terms) + ")"


def _ivf_assign_cte(cent: str) -> str:
    """Assign every vector to its max-cosine centroid in ``cent`` (cell, c).
    coalesce(-2.0) mirrors the engine's try_divide NULL on zero norms (no
    zero-norm vector or centroid exists in this corpus, so the plain SQL
    division never actually hits inf); ties break to the larger cell id."""
    cos = (f"coalesce({_sql_dot('e.v', f'{cent}.c')} "
           f"/ (e.nrm * sqrt(list_sum([x * x for x in {cent}.c]))), -2.0)")
    return f"""(
      SELECT e.vec_id, e.v, e.nrm, {cent}.cell
      FROM e CROSS JOIN {cent}
      QUALIFY row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY {cos} DESC, {cent}.cell DESC) = 1
    )"""


def _ivf_means_cte(assign: str, prev: str) -> str:
    """One Lloyd round: per-(cell, dim) mean rounded to 6 decimals (the
    quantize=6 contract — cross-engine mean summation order differs in the
    last ulp, rounding pins it; + 0.0 drops any -0.0), empty cells keep the
    previous round's centroid."""
    return f"""(
      SELECT {prev}.cell, coalesce(mm.c, {prev}.c) AS c
      FROM {prev} LEFT JOIN (
        SELECT cell, list(m ORDER BY pos) AS c
        FROM (
          SELECT cell, g.i AS pos, round(avg(v[g.i]), 6) + 0.0 AS m
          FROM {assign} CROSS JOIN generate_series(1, {_EMB_DIM}) g(i)
          GROUP BY 1, 2
        ) GROUP BY cell
      ) mm ON {prev}.cell = mm.cell
    )"""


_PQ_B, _PQ_W, _PQ_K = 8, 8, 16


def _pq_dist(v: str, off: str, c: str) -> str:
    """Block squared-L2 as a left-fold list_sum — same accumulation order
    as the engine's explicit left-to-right chain; round 6 pins libm
    noise (the ties then break to the LOWEST code on both sides)."""
    return (f"round(list_sum([({v}[{off} + i] - {c}[i]) * "
            f"({v}[{off} + i] - {c}[i]) "
            f"for i in generate_series(1, {_PQ_W})]), 6)")


def _pq_assign_cte(cb: str) -> str:
    """Nearest code per (vector, block): min rounded distance, ties to
    the lowest code — mirrors array_position(arr, array_min(arr))."""
    return f"""(
      SELECT e.vec_id, {cb}.block, {cb}.code, {cb}.off
      FROM e CROSS JOIN {cb}
      QUALIFY row_number() OVER (
        PARTITION BY e.vec_id, {cb}.block
        ORDER BY {_pq_dist('e.v', f'{cb}.off', f'{cb}.c')},
                 {cb}.code) = 1
    )"""


def _pq_means_cte(assign: str, prev: str) -> str:
    """One per-block Lloyd round: per-(block, code, dim) mean rounded to
    6 (the quantize=6 contract, see _ivf_means_cte); empty codes keep
    the previous centroid."""
    return f"""(
      SELECT {prev}.block, {prev}.code, {prev}.off,
             coalesce(mm.c, {prev}.c) AS c
      FROM {prev} LEFT JOIN (
        SELECT block, code, list(m ORDER BY pos) AS c
        FROM (
          SELECT a.block, a.code, g.i AS pos,
                 round(avg(e.v[a.off + g.i]), 6) + 0.0 AS m
          FROM {assign} a JOIN e USING (vec_id)
          CROSS JOIN generate_series(1, {_PQ_W}) g(i)
          GROUP BY 1, 2, 3
        ) GROUP BY 1, 2
      ) mm ON {prev}.block = mm.block AND {prev}.code = mm.code
    )"""


_PQ_BODY = f"""
    , seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_PQ_K})
    ), blocks AS (
      SELECT g.i - 1 AS block, (g.i - 1) * {_PQ_W} AS off
      FROM generate_series(1, {_PQ_B}) g(i)
    ), cb0 AS (
      SELECT blocks.block, seeds.code, blocks.off,
             seeds.v[blocks.off + 1 : blocks.off + {_PQ_W}] AS c
      FROM blocks CROSS JOIN seeds
    ),
    pa1 AS {_pq_assign_cte("cb0")},
    cb1 AS {_pq_means_cte("pa1", "cb0")},
    pa2 AS {_pq_assign_cte("cb1")},
    cb2 AS {_pq_means_cte("pa2", "cb1")},
    pe AS {_pq_assign_cte("cb2")}
"""

_PQ_CTE = _EMB_CTE.rstrip() + _PQ_BODY

_THROTTLE_ORACLE = """
            -- integer-ms greedy fold as a recursive CTE (bit-exact:
            -- no floats anywhere); same shape as _HOLT_ORACLE
            WITH RECURSIVE lists AS (
              SELECT user_id,
                     list(epoch_ms(ts) ORDER BY ts, event_id) AS tms
              FROM events GROUP BY user_id
            ), r AS (
              SELECT user_id, 1 AS k, tms[1] AS last, true AS keep
              FROM lists
              UNION ALL
              SELECT l2.user_id, r.k + 1,
                     CASE WHEN l2.tms[r.k + 1] - r.last >= 1800000
                          THEN l2.tms[r.k + 1] ELSE r.last END,
                     l2.tms[r.k + 1] - r.last >= 1800000
              FROM r JOIN lists l2 USING (user_id)
              WHERE r.k < len(l2.tms)
            )
            SELECT r.user_id, lists.tms[r.k] AS t_ms,
                   r.keep AS throttle_keep
            FROM r JOIN lists USING (user_id)
        """

_HOLT_ORACLE = """
            -- recursive-CTE fold: DuckDB 1.0's vectorized struct-lambda
            -- list_reduce misevaluates two-field state (verified: results
            -- vary with list LENGTH), so the recurrence iterates as a
            -- recursive CTE — k-th step = one vectorized scalar pass over
            -- all users, same halvings as the Arrow recurrence, new_l
            -- inlined twice (identical ops, identical doubles)
            WITH RECURSIVE lists AS (
              SELECT user_id,
                     list(CAST(value AS DOUBLE)
                          ORDER BY ts, event_id) AS xs,
                     list(event_id ORDER BY ts, event_id) AS ids,
                     list(epoch_ms(ts) ORDER BY ts, event_id) AS tms
              FROM events GROUP BY user_id
            ), r AS (
              SELECT user_id, 1 AS k, xs[1] AS l,
                     CAST(0.0 AS DOUBLE) AS b
              FROM lists
              UNION ALL
              SELECT l2.user_id, r.k + 1,
                     0.5 * l2.xs[r.k + 1] + 0.5 * (r.l + r.b),
                     0.5 * ((0.5 * l2.xs[r.k + 1] + 0.5 * (r.l + r.b))
                            - r.l) + 0.5 * r.b
              FROM r JOIN lists l2 USING (user_id)
              WHERE r.k < len(l2.xs)
            )
            SELECT lists.ids[r.k] AS event_id, r.user_id,
                   lists.tms[r.k] AS t_ms,
                   r.l AS value_level, r.b AS value_trend
            FROM r JOIN lists USING (user_id)
        """


# Holt-Winters additive (period 8, alpha=beta=gamma=0.5): the holt
# recursive-CTE fold extended with an O(period) seasonal list carried
# through the recursion; the slot update is list slicing (seas[1:p-1] ||
# [new] || seas[p+1:m]). new_l is inlined three times (identical ops,
# identical doubles — same trick as _HOLT_ORACLE).
_HW_NL = ("0.5 * (l2.xs[r.k + 1] - r.seas[(r.k % 8) + 1]) "
          "+ 0.5 * (r.l + r.b)")
_HW_NSV = (f"0.5 * (l2.xs[r.k + 1] - ({_HW_NL})) "
           "+ 0.5 * r.seas[(r.k % 8) + 1]")
_HW_ZEROS = "[" + ", ".join(["CAST(0.0 AS DOUBLE)"] * 8) + "]"
_HW_ORACLE = f"""
            WITH RECURSIVE lists AS (
              SELECT user_id,
                     list(CAST(value AS DOUBLE)
                          ORDER BY ts, event_id) AS xs,
                     list(event_id ORDER BY ts, event_id) AS ids,
                     list(epoch_ms(ts) ORDER BY ts, event_id) AS tms
              FROM events GROUP BY user_id
            ), r AS (
              SELECT user_id, 1 AS k, xs[1] AS l,
                     CAST(0.0 AS DOUBLE) AS b,
                     CAST(0.0 AS DOUBLE) AS sv, {_HW_ZEROS} AS seas
              FROM lists
              UNION ALL
              SELECT l2.user_id, r.k + 1,
                     {_HW_NL},
                     0.5 * (({_HW_NL}) - r.l) + 0.5 * r.b,
                     {_HW_NSV},
                     r.seas[1:(r.k % 8)] || [{_HW_NSV}]
                       || r.seas[(r.k % 8) + 2:8]
              FROM r JOIN lists l2 USING (user_id)
              WHERE r.k < len(l2.xs)
            )
            SELECT lists.ids[r.k] AS event_id, r.user_id,
                   lists.tms[r.k] AS t_ms,
                   r.l AS value_level, r.b AS value_trend,
                   r.sv AS value_seasonal
            FROM r JOIN lists USING (user_id)
        """


def _jl_select_sql(dim: int, out_dim: int, seed: int) -> str:
    """Sign-woven add/sub chains for the JL projection oracle — the same
    Rademacher matrix (similarity.py::rademacher_signs) and the same
    left-to-right fold order as random_projection, so every coordinate
    matches bit-exactly."""
    import math as _math
    cols = []
    for j, row in enumerate(dp_sim.rademacher_signs(dim, out_dim, seed)):
        terms = []
        for i, s in enumerate(row):
            t = f"CAST(embedding[{i + 1}] AS DOUBLE)"
            terms.append((t if s > 0 else f"- {t}") if i == 0
                         else f"{'+' if s > 0 else '-'} {t}")
        cols.append(f"({' '.join(terms)}) / {_math.sqrt(out_dim)!r} "
                    f"AS p{j:02d}")
    return ",\n                   ".join(cols)


def _bpe_apply_sql(merges: list[tuple[str, str]]) -> str:
    """Nested-replace oracle for bpe_apply: the identical symbolize +
    rank-ordered literal replace chain, DuckDB-side."""
    expr = ("regexp_replace(text, '(?s)(.)', "
            "chr(31) || '\\1' || chr(31), 'g')")
    for x, y in merges:
        expr = (f"replace({expr}, "
                f"chr(31)||'{x}'||chr(31)||chr(31)||'{y}'||chr(31), "
                f"chr(31)||'{x}{y}'||chr(31))")
    return f"""
            SELECT doc_id, len(toks) AS n_tokens,
                   array_to_string(toks, ' ') AS token_stream FROM (
              SELECT doc_id,
                     list_filter(string_split({expr}, chr(31)),
                                 t -> t != '' AND trim(t) != '') AS toks
              FROM documents)
        """


def _bpe_train_sql(n_merges: int) -> str:
    """Full BPE-training replay as generated CTE stages: per rank, a
    pair-count + deterministic argmax + corpus rewrite — the DuckDB twin
    of tokenize.py::bpe_train's iteration."""
    parts = ["st0 AS (SELECT regexp_replace(text, '(?s)(.)', "
             "chr(31) || '\\1' || chr(31), 'g') AS s FROM documents)"]
    for i in range(1, n_merges + 1):
        parts.append(f"""p{i} AS (
              SELECT u.l AS l, u.r AS r, count(*) AS c FROM (
                SELECT unnest([{{'l': a[k], 'r': a[k+1]}}
                               for k in generate_series(
                                   1, greatest(len(a)-1, 0))]) AS u
                FROM (SELECT list_filter(string_split(s, chr(31)),
                                         t -> t != '') AS a FROM st{i - 1})
              ) WHERE trim(u.l) != '' AND trim(u.r) != ''
              GROUP BY u.l, u.r)""")
        parts.append(f"t{i} AS (SELECT l, r, c FROM p{i} "
                     f"ORDER BY c DESC, l, r LIMIT 1)")
        if i < n_merges:
            parts.append(
                f"st{i} AS (SELECT replace(s, "
                f"chr(31)||l||chr(31)||chr(31)||r||chr(31), "
                f"chr(31)||l||r||chr(31)) AS s "
                f"FROM st{i - 1} CROSS JOIN t{i})")
    unions = "\n            UNION ALL ".join(
        f"SELECT {i} AS merge_rank, l AS left_sym, r AS right_sym, "
        f"CAST(c AS BIGINT) AS pair_count FROM t{i}"
        for i in range(1, n_merges + 1))
    return "WITH " + ",\n            ".join(parts) + "\n            " + unions


def _sign_sketch_sql(word: int) -> str:
    """32-term CASE chain for sign-sketch word `word` — the DuckDB twin
    of similarity.py::embedding_signs (bit j = 1 iff embedding[j+1] >= 0)."""
    lo = 32 * word
    return " + ".join(
        f"(CASE WHEN embedding[{j + 1}] >= 0 THEN {1 << (j - lo)} "
        f"ELSE 0 END)"
        for j in range(lo, lo + 32))


_PACK_BINS_CTE = """
    -- exact FFD replay: the recursive CTE walks each shard's
    -- (tokens DESC, id) order carrying the bin-load list;
    -- list_position finds the first bin the doc fits (0/NULL
    -- normalized to NULL for the no-fit case)

            WITH RECURSIVE base AS (
              SELECT doc_id,
                     CAST(len(regexp_extract_all(text,
                         '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
                       AS n_tokens,
                     ('0x' || substr(md5('0|' || doc_id::VARCHAR), 1, 8))
                         ::BIGINT % 8 AS shard
              FROM documents
            ), d AS (
              SELECT *, row_number() OVER (PARTITION BY shard
                          ORDER BY n_tokens DESC, doc_id) AS rn
              FROM base
            ), pack AS (
              SELECT shard, rn, doc_id, n_tokens,
                     [n_tokens] AS bins,
                     CAST(1 AS BIGINT) AS bin,
                     n_tokens > 60 AS overflow
              FROM d WHERE rn = 1
              UNION ALL
              SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
                     CASE
                       WHEN d.n_tokens > 60
                            OR nullif(coalesce(list_position(
                                 list_transform(p.bins,
                                   b -> b + d.n_tokens <= 60), true), 0), 0)
                               IS NULL
                       THEN p.bins || [d.n_tokens]
                       ELSE list_transform(
                              generate_series(1, len(p.bins)),
                              i -> CASE WHEN i = nullif(coalesce(
                                     list_position(list_transform(p.bins,
                                       b -> b + d.n_tokens <= 60),
                                       true), 0), 0)
                                   THEN p.bins[i] + d.n_tokens
                                   ELSE p.bins[i] END)
                     END AS bins,
                     CASE
                       WHEN d.n_tokens > 60
                            OR nullif(coalesce(list_position(
                                 list_transform(p.bins,
                                   b -> b + d.n_tokens <= 60), true), 0), 0)
                               IS NULL
                       THEN CAST(len(p.bins) + 1 AS BIGINT)
                       ELSE CAST(nullif(coalesce(list_position(
                              list_transform(p.bins,
                                b -> b + d.n_tokens <= 60), true), 0), 0)
                            AS BIGINT)
                     END AS bin,
                     d.n_tokens > 60 AS overflow
              FROM pack p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1
            )
"""


def _dtw_oracle() -> str:
    """Recursive-CTE replay of dtw_to_template's integer micro-unit DP
    (one iteration per bucket row, state = the 24-long DP row as a
    LIST; the INF clamp mirrors the Spark fold literally)."""
    t = [int(round(v * 1e6)) for v in _DTW_TEMPLATE]
    tl = "[" + ", ".join(str(x) for x in t) + "]"
    inf = 1 << 60
    m = len(t)
    return f"""
        WITH RECURSIVE bf AS (
          SELECT user_id,
                 CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS pos,
                 CAST(round(round(avg(value), 6) * 1000000.0) AS BIGINT)
                   AS v
          FROM events GROUP BY 1, 2
        ), rn AS (
          SELECT user_id, v,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY pos) AS i
          FROM bf
        ), nmax AS (
          SELECT user_id, max(i) AS n FROM rn GROUP BY 1
        ), rec AS (
          SELECT user_id, 1 AS i,
                 [CASE WHEN j = 1 THEN abs(v - {tl}[j])
                       ELSE {inf} END
                  for j in generate_series(1, {m})] AS d
          FROM rn WHERE i = 1
          UNION ALL
          SELECT r.user_id, p.i + 1,
                 [CASE WHEN least(p.d[j],
                          CASE WHEN j = 1 THEN {inf}
                               ELSE p.d[j - 1] END) >= {inf}
                       THEN {inf}
                       ELSE abs(r.v - {tl}[j])
                            + least(p.d[j],
                                CASE WHEN j = 1 THEN {inf}
                                     ELSE p.d[j - 1] END) END
                  for j in generate_series(1, {m})] AS d
          FROM rec p JOIN rn r
            ON r.user_id = p.user_id AND r.i = p.i + 1
        )
        SELECT rec.user_id, nmax.n AS n_buckets,
               CASE WHEN rec.d[{m}] < {inf} THEN rec.d[{m}] END
                 AS dtw_micro,
               CASE WHEN rec.d[{m}] < {inf}
                    THEN round(rec.d[{m}] / 1000000.0, 6) END AS dtw
        FROM rec JOIN nmax ON nmax.user_id = rec.user_id
                          AND nmax.n = rec.i
    """



def _pca_oracle(d: int = 64, iters: int = 20) -> str:
    """Full replay of pca_fit + pca_project (similarity.py): micro-int
    moment sums -> covariance -> power iteration (recursive CTE, v as a
    LIST, per-step normalization) -> sign pin -> deflation -> second
    component -> projection.  Every float op is a left fold (list_sum /
    left-assoc chains) mirroring the driver math, so no rounding beyond
    the engine's shared round(,6) pins is needed for hash equality."""
    gs = f"generate_series(1, {d})"

    def w_of(it, cm):
        return (f"[list_sum([{cm}.cm[i][j] * {it}.v[j] for j in {gs}])"
                f" for i in {gs}]")

    def recursion(it, cm):
        w = w_of(it, cm)
        return f"""
        {it} AS (
          SELECT 0 AS t,
                 [CAST(1 AS DOUBLE) / sqrt(CAST({d} AS DOUBLE))
                  for q in {gs}] AS v
          UNION ALL
          SELECT t + 1,
                 [wx / sqrt(list_sum([wy * wy for wy in {w}]))
                  for wx in {w}]
          FROM {it}, {cm} WHERE t < {iters}
        )"""

    def sign_pin(src, dst):
        return f"""
        {dst} AS MATERIALIZED (
          SELECT CASE WHEN v[list_position([abs(x) for x in v],
                             list_max([abs(x) for x in v]))] < 0
                      THEN [-x for x in v] ELSE v END AS v
          FROM (SELECT v FROM {src} WHERE t = {iters})
        )"""

    return f"""
        WITH RECURSIVE mm AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(embedding, x ->
                   CAST(round(round(CAST(x AS DOUBLE), 6) * 1000000.0)
                        AS BIGINT)) AS m
          FROM embeddings WHERE len(embedding) = {d}
        ), nn AS MATERIALIZED (SELECT count(*) AS n FROM mm
        ), s1 AS MATERIALIZED (
          SELECT i, sum(m[i]) AS s
          FROM mm, {gs} t(i) GROUP BY i
        ), mul AS MATERIALIZED (
          SELECT list(CAST(s AS DOUBLE) / (nn.n * 1000000.0)
                      ORDER BY i) AS mu
          FROM s1, nn
        ), p2 AS MATERIALIZED (
          SELECT i, j, sum(m[i] * m[j]) AS p
          FROM mm, {gs} t(i), {gs} u(j)
          WHERE j >= i GROUP BY i, j
        ), covh AS MATERIALIZED (
          SELECT p2.i, p2.j,
                 CAST(p2.p AS DOUBLE) / (nn.n * 1000000000000.0)
                   - mul.mu[p2.i] * mul.mu[p2.j] AS c
          FROM p2, nn, mul
        ), covf AS MATERIALIZED (
          SELECT i, j, c FROM covh
          UNION ALL
          SELECT j AS i, i AS j, c FROM covh WHERE i < j
        ), cm AS MATERIALIZED (
          SELECT list(cl ORDER BY i) AS cm FROM (
            SELECT i, list(c ORDER BY j) AS cl FROM covf GROUP BY i)
        ),{recursion("it1", "cm")},{sign_pin("it1", "v1s")}, l1 AS (
          SELECT list_sum([v1s.v[i] *
                   list_sum([cm.cm[i][j] * v1s.v[j] for j in {gs}])
                   for i in {gs}]) AS lam
          FROM v1s, cm
        ), cm2 AS MATERIALIZED (
          SELECT [[cm.cm[i][j] - l1.lam * v1s.v[i] * v1s.v[j]
                   for j in {gs}] for i in {gs}] AS cm
          FROM cm, v1s, l1
        ),{recursion("it2", "cm2")},{sign_pin("it2", "v2s")}
        SELECT e.vec_id AS vec_id,
               round(list_sum([(round(CAST(e.embedding[i] AS DOUBLE), 6)
                                - mul.mu[i]) * v1s.v[i]
                               for i in {gs}]), 6) AS pc1,
               round(list_sum([(round(CAST(e.embedding[i] AS DOUBLE), 6)
                                - mul.mu[i]) * v2s.v[i]
                               for i in {gs}]), 6) AS pc2
        FROM embeddings e, mul, v1s, v2s
        WHERE len(e.embedding) = {d}
    """


def _cusum_oracle(k_mic: int = 2_000_000, h_mic: int = 40_000_000) -> str:
    """Recursive-CTE replay of cusum_changepoints' n-scaled integer
    fold: one iteration per bucket row, state = (S+, S-) as BIGINTs,
    alarm rows emitted where either side exceeds h*n, both sides
    restarting at 0 after an alarm (mirrors the Spark fold literally)."""
    return f"""
        WITH RECURSIVE bf AS (
          -- integer bucket mean: order-free micro-unit sum, then one
          -- round-half-away integer division (matches the Spark fold)
          SELECT user_id, p,
                 CASE WHEN S >= 0 THEN (2 * S + C) // (2 * C)
                      ELSE -((-2 * S + C) // (2 * C)) END AS m
          FROM (
            SELECT user_id,
                   CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS p,
                   CAST(sum(CAST(round(round(value, 6) * 1000000.0)
                        AS BIGINT)) AS BIGINT) AS S,
                   count(value) AS C
            FROM events GROUP BY 1, 2
          ) WHERE C > 0
        ), rn AS (
          SELECT user_id, p, m,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY p) AS i
          FROM bf
        ), ag AS (
          SELECT user_id, count(*) AS n, sum(m) AS s FROM bf GROUP BY 1
        ), rec AS (
          SELECT user_id, 0 AS i, 0::BIGINT AS sp, 0::BIGINT AS sn,
                 NULL::BIGINT AS p, NULL::VARCHAR AS d,
                 NULL::BIGINT AS st
          FROM ag
          UNION ALL
          SELECT t.user_id, t.i,
                 CASE WHEN t.hit THEN 0 ELSE t.sp1 END,
                 CASE WHEN t.hit THEN 0 ELSE t.sn1 END, t.p,
                 CASE WHEN t.hit THEN
                   (CASE WHEN t.sp1 >= t.sn1 THEN 'up' ELSE 'down' END)
                 END,
                 CASE WHEN t.hit THEN
                   (CASE WHEN t.sp1 >= t.sn1 THEN t.sp1 ELSE t.sn1 END)
                 END
          FROM (
            SELECT r.user_id, r.i, r.p,
                   greatest(0, v.sp + (ag.n * r.m - ag.s)
                               - {k_mic} * ag.n) AS sp1,
                   greatest(0, v.sn - (ag.n * r.m - ag.s)
                               - {k_mic} * ag.n) AS sn1,
                   (greatest(0, v.sp + (ag.n * r.m - ag.s)
                                - {k_mic} * ag.n) > {h_mic} * ag.n
                    OR greatest(0, v.sn - (ag.n * r.m - ag.s)
                                   - {k_mic} * ag.n) > {h_mic} * ag.n)
                     AS hit
            FROM rec v
            JOIN rn r ON r.user_id = v.user_id AND r.i = v.i + 1
            JOIN ag ON ag.user_id = v.user_id
          ) t
        )
        SELECT rec.user_id AS user_id, rec.p * 3600000 AS t_ms,
               rec.d AS direction,
               round(((2 * rec.st + ag.n) // (2 * ag.n))
                     / 1000000.0, 6) AS stat,
               ag.n AS n_buckets
        FROM rec JOIN ag ON ag.user_id = rec.user_id
        WHERE rec.d IS NOT NULL
    """


def _pipeline_oracle(d: dict) -> str:
    """End-to-end preprocessing replay composed from the verified
    component oracles (DuckDB allows WITH inside a parenthesized
    subquery, so each component keeps its own CTE namespace).  Corpus =
    doc_id >= 25, benchmark = doc_id < 25 — identical to the standalone
    decontam_docs split; lang / gopher / near-dup components are
    re-scoped to the corpus by substituting the table name."""
    lang = d["lang_id"].replace("FROM documents", "FROM corpus")
    qual = d["gopher_quality"].replace("FROM documents", "FROM corpus")
    near = d["dedup_documents"].replace("FROM documents", "FROM corpus")
    decon = d["decontam_docs"]
    return f"""
        WITH corpus AS (
          SELECT * FROM documents WHERE doc_id >= 25
        ), lang AS (
          SELECT doc_id, lang_pred FROM ({lang}) s
        ), qual AS (
          SELECT doc_id, gopher_pass FROM ({qual}) s
        ), near AS (
          SELECT doc_id, is_keeper FROM ({near}) s
        ), decon AS (
          SELECT doc_id, contaminated FROM ({decon}) s
        ), exact AS (
          SELECT doc_id,
                 doc_id = min(doc_id) OVER (PARTITION BY md5(text))
                   AS exact_keeper
          FROM corpus
        )
        SELECT c.doc_id,
               l.lang_pred = 'en' AS lang_ok,
               q.gopher_pass AS quality_ok,
               e.exact_keeper,
               n.is_keeper AS near_keeper,
               dc.contaminated,
               (l.lang_pred = 'en') AND q.gopher_pass AND e.exact_keeper
                 AND n.is_keeper AND NOT dc.contaminated AS kept
        FROM corpus c
        JOIN lang l ON l.doc_id = c.doc_id
        JOIN qual q ON q.doc_id = c.doc_id
        JOIN exact e ON e.doc_id = c.doc_id
        JOIN near n ON n.doc_id = c.doc_id
        JOIN decon dc ON dc.doc_id = c.doc_id
    """


def _hll_oracle() -> str:
    """HLL replay: register ranks via the same md5 hex-range hashes and
    string leading-zero math as sketch.py::hll_registers; the harmonic
    sum is dyadic (bit-exact either engine); alpha*m^2 and the m
    possible ln(m/V) linear-counting values are inlined as Python-repr
    literals so both engines parse the identical doubles."""
    import math
    m = 64
    amm = repr(0.709 * m * m)
    logs = ", ".join(repr(m * math.log(m / i)) for i in range(1, m + 1))
    est = f"""
              SELECT grp, round(CASE WHEN {amm} / ((64 - n)::DOUBLE + h)
                                       <= 160.0 AND 64 - n > 0
                                THEN [{logs}][(64 - n)::INT]
                                ELSE {amm} / ((64 - n)::DOUBLE + h)
                                END, 6) AS hll_est"""
    return f"""
            WITH arr AS (
              SELECT source,
                     list_filter(list_transform(
                         list_filter(string_split_regex(trim(text),
                                                        '\\s+'),
                                     x -> x != ''),
                         x -> regexp_replace(lower(x),
                             '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g')),
                       x -> x != '') AS a
              FROM documents
            ), keys AS (
              SELECT source AS grp, unnest(a) AS key FROM arr
              UNION ALL
              SELECT '__docs__' AS grp, md5(text) AS key FROM documents
            ), reg AS (
              SELECT grp,
                     ('0x' || substr(md5(key), 1, 8))::BIGINT % 64
                       AS idx,
                     33 - length(ltrim(lpad(
                         bin(('0x' || substr(md5(key), 9, 8))::BIGINT),
                         32, '0'), '0')) AS rho
              FROM keys
            ), sk AS (
              SELECT grp, idx, max(rho) AS reg
              FROM reg GROUP BY grp, idx
            ), agg AS (
              SELECT grp, count(*) AS n, sum(power(2.0, -reg)) AS h
              FROM sk GROUP BY grp
            ), est AS ({est}
              FROM agg
            ), exact AS (
              SELECT grp, count(DISTINCT key) AS exact_distinct
              FROM keys GROUP BY grp
            )
            SELECT est.grp AS scope, est.hll_est, exact.exact_distinct,
                   round((est.hll_est - exact.exact_distinct)
                         / exact.exact_distinct, 6) AS rel_err
            FROM est JOIN exact USING (grp)
    """




def _unigram_score_case(expr: str) -> str:
    """Literal score CASE for the fixed _UNIGRAM_VOCAB (apply oracle)."""
    whens = " ".join(f"WHEN {expr} = '{p}' THEN CAST({s} AS BIGINT)"
                     for p, s in sorted(_UNIGRAM_VOCAB.items()))
    return f"(CASE {whens} END)"


def _unigram_viterbi_rec(name: str, d1: str, d2: str, d3: str) -> str:
    """One recursive-CTE Viterbi stage over the `words` frame: carries
    the D list and the segmentation string, evaluates piece lengths
    ascending with >= so the longer piece wins exact ties — the same
    sequential preference as the Spark fold in
    tokenize._viterbi_segments."""
    return f"""{name} AS (
      SELECT w, n, 0 AS i,
             [CAST(0 AS BIGINT)] AS ds, [''] AS segs
      FROM words
      UNION ALL
      SELECT w, n, i1,
             list_append(ds, bd),
             list_append(segs, segs[i1 - bl + 1] || chr(31)
                         || substr(w, i1 - bl + 1, bl))
      FROM (
        SELECT w, n, ds, segs, i1,
               CASE WHEN d3 IS NOT NULL AND d3 >= b2
                    THEN d3 ELSE b2 END AS bd,
               CASE WHEN d3 IS NOT NULL AND d3 >= b2
                    THEN 3 ELSE l2 END AS bl
        FROM (
          SELECT w, n, ds, segs, i1, d3,
                 CASE WHEN d2 IS NOT NULL AND d2 >= d1
                      THEN d2 ELSE d1 END AS b2,
                 CASE WHEN d2 IS NOT NULL AND d2 >= d1
                      THEN 2 ELSE 1 END AS l2
          FROM (
            SELECT r.w AS w, r.n AS n, r.ds AS ds, r.segs AS segs,
                   r.i + 1 AS i1,
                   {d1} AS d1, {d2} AS d2, {d3} AS d3
            FROM {name} r
            WHERE r.i < r.n
          ) q1
        ) q2
      ) q3
    )"""


def _wordpiece_oracle() -> str:
    """Replay of q_wordpiece_tokenize: per-word presence lists over the
    literal vocabulary, then the greedy longest-first scan as a
    recursive CTE with (pos, seg, bad) state."""
    L = max(len(p) - (2 if p.startswith("##") else 0)
            for p in _WORDPIECE_VOCAB)
    vals = ", ".join(f"('{p}')" for p in sorted(set(_WORDPIECE_VOCAB)))
    picks = "0"
    for length in range(1, L + 1):
        picks = (f"CASE WHEN parr[(pos - 1) * {L} + {length}] "
                 f"THEN {length} ELSE {picks} END")
    return f"""
        WITH RECURSIVE vv (piece) AS (VALUES {vals}),
        docw AS MATERIALIZED (
          SELECT doc_id,
                 unnest([struct_pack(pos := i,
                         w := substr(ws[i], 1, 12))
                         for i in generate_series(1, len(ws))]) AS u
          FROM (SELECT doc_id,
                       list_filter(string_split_regex(trim(text),
                                                      '\\s+'),
                                   x -> x != '') AS ws
                FROM documents)
        ), wp AS MATERIALIZED (
          SELECT doc_id, u.pos AS pos, u.w AS w FROM docw
        ), words AS MATERIALIZED (
          SELECT DISTINCT w, length(w) AS n FROM wp
        ), grid AS (
          SELECT w, n, i, l,
                 CASE WHEN i + l - 1 <= n THEN
                   CASE WHEN i = 1 THEN substr(w, i, l)
                        ELSE '##' || substr(w, i, l) END
                 END AS key
          FROM (SELECT w, n, unnest(generate_series(1, n)) AS i
                FROM words),
               (SELECT unnest(generate_series(1, {L})) AS l)
        ), pres AS MATERIALIZED (
          SELECT g.w AS w, any_value(g.n) AS n,
                 list(v.piece IS NOT NULL ORDER BY g.i, g.l) AS parr
          FROM grid g LEFT JOIN vv v ON v.piece = g.key
          GROUP BY g.w
        ), rec AS (
          SELECT w, n, parr, 1 AS pos, '' AS seg, false AS bad
          FROM pres
          UNION ALL
          SELECT w, n, parr,
                 CASE WHEN bl > 0 THEN pos + bl ELSE n + 1 END,
                 CASE WHEN bl > 0 THEN seg || chr(31)
                      || CASE WHEN pos = 1 THEN '' ELSE '##' END
                      || substr(w, pos, bl)
                      ELSE '' END,
                 bl = 0
          FROM (
            SELECT w, n, parr, pos, seg, {picks} AS bl
            FROM rec WHERE NOT bad AND pos <= n
          )
        ), segd AS (
          SELECT w,
                 list_filter(string_split(
                   CASE WHEN bad THEN chr(31) || '[UNK]' ELSE seg END,
                   chr(31)), x -> x != '') AS pcs
          FROM (SELECT *, row_number() OVER (PARTITION BY w
                  ORDER BY pos DESC, bad DESC) AS rn
                FROM rec)
          WHERE rn = 1
        ), perdoc AS (
          SELECT wp.doc_id AS doc_id,
                 flatten(list(segd.pcs ORDER BY wp.pos)) AS toks
          FROM wp JOIN segd ON segd.w = wp.w
          GROUP BY 1
        )
        SELECT d.doc_id AS doc_id,
               coalesce(len(p.toks), 0) AS n_tokens,
               coalesce(array_to_string(p.toks, ' '), '') AS token_stream
        FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
    """


def _unigram_apply_oracle() -> str:
    """Replay of q_unigram_tokenize: fixed-vocab Viterbi per distinct
    word (recursive CTE), then reassembly in document word order."""
    sc1 = _unigram_score_case("substr(r.w, r.i + 1, 1)")
    sc2 = _unigram_score_case("substr(r.w, r.i, 2)")
    sc3 = _unigram_score_case("substr(r.w, r.i - 1, 3)")
    rec = _unigram_viterbi_rec(
        "rec",
        f"r.ds[r.i + 1] + coalesce({sc1}, CAST(-20000000 AS BIGINT))",
        f"CASE WHEN r.i + 1 >= 2 THEN r.ds[r.i] + {sc2} END",
        f"CASE WHEN r.i + 1 >= 3 THEN r.ds[r.i - 1] + {sc3} END")
    return f"""
        WITH RECURSIVE docw AS MATERIALIZED (
          SELECT doc_id,
                 unnest([struct_pack(pos := i,
                         w := substr(ws[i], 1, 12))
                         for i in generate_series(1, len(ws))]) AS u
          FROM (SELECT doc_id,
                       list_filter(string_split_regex(trim(text),
                                                      '\\s+'),
                                   x -> x != '') AS ws
                FROM documents)
        ), wp AS MATERIALIZED (
          SELECT doc_id, u.pos AS pos, u.w AS w FROM docw
        ), words AS MATERIALIZED (
          SELECT DISTINCT w, length(w) AS n FROM wp
        ), {rec}, segd AS (
          SELECT w,
                 list_filter(string_split(segs[n + 1], chr(31)),
                             x -> x != '') AS pcs
          FROM rec WHERE i = n
        ), perdoc AS (
          SELECT wp.doc_id AS doc_id,
                 flatten(list(segd.pcs ORDER BY wp.pos)) AS toks
          FROM wp JOIN segd ON segd.w = wp.w
          GROUP BY 1
        )
        SELECT d.doc_id AS doc_id,
               coalesce(len(p.toks), 0) AS n_tokens,
               coalesce(array_to_string(p.toks, ' '), '') AS token_stream
        FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
    """


def _unigram_train_oracle() -> str:
    """Replay of q_unigram_train: seed substring counts (all chars +
    top-80 multi-char), two Viterbi-EM rounds — each a recursive-CTE
    DP whose scores come from the previous round's recount — then the
    top-40 prune.  Integer micro-nat scores everywhere; ln parity
    Spark<->DuckDB is the proven MI/NB discipline."""
    parts = ["""
        WITH RECURSIVE words AS MATERIALIZED (
          SELECT w, CAST(count(*) AS BIGINT) AS wc, length(w) AS n
          FROM (
            SELECT substr(x, 1, 12) AS w FROM (
              SELECT unnest(list_filter(
                       string_split_regex(trim(text), '\\s+'),
                       y -> y != '')) AS x
              FROM documents)
          ) GROUP BY 1
        ), s1 AS (
          SELECT w, wc, n, unnest(generate_series(1, n)) AS i
          FROM words
        ), s2 AS (
          SELECT w, wc, i,
                 unnest(generate_series(1, least(3, i))) AS l
          FROM s1
        ), subs AS MATERIALIZED (
          SELECT substr(w, i - l + 1, l) AS piece,
                 CAST(sum(wc) AS BIGINT) AS c
          FROM s2 GROUP BY 1
        ), seed AS MATERIALIZED (
          SELECT piece, c FROM subs WHERE length(piece) = 1
          UNION ALL
          SELECT piece, c FROM (
            SELECT piece, c,
                   row_number() OVER (ORDER BY c DESC, piece) AS rn
            FROM subs WHERE length(piece) >= 2)
          WHERE rn <= 80
        ), sc0 AS MATERIALIZED (
          SELECT piece, c,
                 CAST(round(ln(c / t) * 1000000.0) AS BIGINT) AS s
          FROM seed,
               (SELECT CAST(sum(c) AS BIGINT) AS t FROM seed)
        )"""]
    prev = "sc0"
    for rnd in (1, 2):
        sc1 = f"p1.s"
        rec = _unigram_viterbi_rec(
            f"rec{rnd}",
            f"r.ds[r.i + 1] + coalesce(p1.s, CAST(-20000000 AS BIGINT))",
            f"CASE WHEN r.i + 1 >= 2 THEN r.ds[r.i] + p2.s END",
            f"CASE WHEN r.i + 1 >= 3 THEN r.ds[r.i - 1] + p3.s END")
        # splice the three score joins into the innermost scan
        rec = rec.replace(
            f"FROM rec{rnd} r\n            WHERE r.i < r.n",
            f"""FROM rec{rnd} r
            LEFT JOIN {prev} p1
              ON p1.piece = substr(r.w, r.i + 1, 1)
            LEFT JOIN {prev} p2
              ON r.i + 1 >= 2 AND p2.piece = substr(r.w, r.i, 2)
            LEFT JOIN {prev} p3
              ON r.i + 1 >= 3 AND p3.piece = substr(r.w, r.i - 1, 3)
            WHERE r.i < r.n""")
        parts.append(f""", {rec}, cnt{rnd} AS MATERIALIZED (
          SELECT piece, CAST(sum(wc) AS BIGINT) AS c FROM (
            SELECT unnest(list_filter(
                     string_split(r.segs[r.n + 1], chr(31)),
                     x -> x != '')) AS piece,
                   wd.wc AS wc
            FROM rec{rnd} r JOIN words wd ON wd.w = r.w
            WHERE r.i = r.n
          ) GROUP BY 1
        ), sc{rnd} AS MATERIALIZED (
          SELECT piece, c,
                 CAST(round(ln(c / t) * 1000000.0) AS BIGINT) AS s
          FROM cnt{rnd},
               (SELECT CAST(sum(c) AS BIGINT) AS t FROM cnt{rnd})
        )""")
        prev = f"sc{rnd}"
    parts.append("""
        SELECT piece, c AS count, s AS score FROM (
          SELECT piece, c, s,
                 row_number() OVER (ORDER BY c DESC, piece) AS rn
          FROM sc2)
        WHERE rn <= 40
    """)
    return "".join(parts)


def oracle_sql() -> dict[str, str]:
    d = {
        "rollup_1h_by_type": f"""
            SELECT concat('1h-', {_POS_1H}) AS "index", event_type,
                   round(avg(value), 6) AS value_avg,
                   round(coalesce(sum(value), 0), 6) AS value_sum,
                   count(value) AS n
            FROM events GROUP BY 1, 2
        """,
        "stream_rollup_1h": f"""
            SELECT {_POS_1H} * 3600000 AS begin_ms, event_type,
                   round(coalesce(sum(value), 0), 6) AS v_sum,
                   count(value) AS n
            FROM events GROUP BY 1, 2
        """,
        "rollup_daily": """
            SELECT strftime(ts, '%Y-%m-%d') AS "index",
                   round(avg(value), 6) AS value_avg, count(value) AS n
            FROM events GROUP BY 1
        """,
        "global_stats_by_type": """
            SELECT event_type, min(value) AS v_min, max(value) AS v_max,
                   round(quantile_cont(value, 0.5), 6) AS v_med,
                   round(quantile_cont(value, 0.95), 6) AS v_p95,
                   round(stddev_pop(value), 6) AS v_std,
                   round(max(value) - min(value), 6) AS v_diff,
                   count(value) AS n
            FROM events GROUP BY 1
        """,
        "quantile_by_type": """
            SELECT event_type,
                   round(quantile_cont(value, 0.25), 6) AS p25,
                   round(quantile_cont(value, 0.50), 6) AS p50,
                   round(quantile_cont(value, 0.75), 6) AS p75
            FROM events GROUP BY 1
        """,
        "percentile_methods": """
            WITH s AS (
              SELECT event_type, list_sort(list(value)) AS arr
              FROM events GROUP BY 1
            ), c AS (
              SELECT event_type, arr, len(arr) AS n,
                     CAST(floor((len(arr) - 1) * 0.95) AS BIGINT) AS idx,
                     (len(arr) - 1) * 0.95 - floor((len(arr) - 1) * 0.95)
                       AS frac
              FROM s
            )
            SELECT event_type,
              round(CASE WHEN n = 1 THEN arr[1] ELSE arr[idx + 1] END, 6)
                AS p95_lower,
              round(CASE WHEN n = 1 THEN arr[1]
                         WHEN frac = 0 THEN arr[idx + 1]
                         ELSE arr[idx + 2] END, 6) AS p95_higher,
              round(CASE WHEN n = 1 THEN arr[1]
                         WHEN frac < 0.5 THEN arr[idx + 1]
                         ELSE arr[idx + 2] END, 6) AS p95_nearest,
              round(CASE WHEN n = 1 THEN arr[1]
                         WHEN frac = 0 THEN arr[idx + 1]
                         ELSE (arr[idx + 1] + arr[idx + 2]) / 2 END, 6)
                AS p95_midpoint
            FROM c
        """,
        "first_last_by_type": """
            SELECT event_type, arg_min(value, ts) AS v_first,
                   arg_max(value, ts) AS v_last
            FROM events GROUP BY 1
        """,
        "rate_per_user": """
            -- "+ 0.0" canonicalizes IEEE -0.0 to +0.0: DuckDB round() keeps
            -- the sign of zero while Spark's HALF_UP round returns +0.0.
            SELECT user_id, prev_ms AS begin_ms, ms AS end_ms,
                   round((value - pv) / ((ms - prev_ms) / 1000.0), 6) + 0.0
                   AS value_rate
            FROM (
              SELECT user_id, epoch_ms(ts) AS ms, value,
                     lag(epoch_ms(ts)) OVER w AS prev_ms,
                     lag(value) OVER w AS pv
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ) WHERE prev_ms IS NOT NULL
        """,
        "rate_no_negative": """
            SELECT user_id, prev_ms AS begin_ms,
                   CASE WHEN (value - pv) / ((ms - prev_ms) / 1000.0) < 0
                        THEN NULL
                        ELSE round((value - pv) / ((ms - prev_ms) / 1000.0), 6)
                             + 0.0
                   END AS value_rate
            FROM (
              SELECT user_id, epoch_ms(ts) AS ms, value,
                     lag(epoch_ms(ts)) OVER w AS prev_ms,
                     lag(value) OVER w AS pv
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ) WHERE prev_ms IS NOT NULL
        """,
        "align_10m_linear": _align_oracle(600000, "linear"),
        "align_1h_hold": _align_oracle(3600000, "hold"),
        # the streaming twin emits identical values; only the column shape
        # differs (t_ms instead of a timestamp — _align_oracle already
        # emits t_ms)
        "stream_align_1h": _align_oracle(3600000, "hold"),
        "stream_fill_pad": f"""
            SELECT user_id, ms AS t_ms,
                   round(coalesce(v, last_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ms
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), 6)
                   AS value_filled
            FROM ({_NULLIFIED})
        """,
        "ewma_scan": """
            -- sequential-fold oracle over the one unkeyed series; the
            -- Spark side is the chunked parallel scan, bit-identical for
            -- dyadic alpha (every step an exact IEEE halving, chunk
            -- compositions exact powers of two)
            WITH l AS (
              SELECT list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS xs,
                     list(event_id ORDER BY ts, event_id) AS ids,
                     list(epoch_ms(ts) ORDER BY ts, event_id) AS tms
              FROM events WHERE user_id <= 5
            ), e AS (
              SELECT xs, ids, tms,
                     unnest(generate_series(1, len(xs))) AS k
              FROM l
            )
            SELECT ids[k] AS event_id, tms[k] AS t_ms,
                   list_reduce(list_slice(xs, 1, k),
                               (acc, x) -> 0.5 * x + 0.5 * acc)
                     AS value_ewma
            FROM e
        """,
        "monthly_rollup": """
            SELECT strftime(ts, '%Y-%m') AS "index", event_type,
                   round(avg(value), 6) AS value_avg,
                   max(value) AS value_max, count(value) AS n
            FROM events GROUP BY 1, 2
        """,
        # identical values to rate_per_user, streamed (plus end_ms)
        "stream_rate": """
            SELECT user_id, prev_ms AS begin_ms, ms AS end_ms,
                   round((value - pv) / ((ms - prev_ms) / 1000.0), 6) + 0.0
                   AS value_rate
            FROM (
              SELECT user_id, epoch_ms(ts) AS ms, value,
                     lag(epoch_ms(ts)) OVER w AS prev_ms,
                     lag(value) OVER w AS pv
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ) WHERE prev_ms IS NOT NULL
        """,
        "knn_join": """
            WITH q AS (
              SELECT vec_id AS q_id, embedding AS qv
              FROM embeddings WHERE vec_id < 3
            ), scored AS (
              SELECT q.q_id, e.vec_id, round(
                  list_sum([CAST(e.embedding[i] AS DOUBLE)
                            * CAST(q.qv[i] AS DOUBLE)
                            for i in generate_series(1, len(e.embedding))])
                  / (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                    for x in e.embedding]))
                     * sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                      for x in q.qv]))), 6) AS cosine
              FROM embeddings e CROSS JOIN q
            )
            SELECT q_id, vec_id, cosine,
                   CAST(row_number() OVER (
                     PARTITION BY q_id
                     ORDER BY cosine DESC, vec_id) AS INT) AS rank
            FROM scored
            QUALIFY rank <= 5
        """,
        "cusum_by_type": """
            -- closed form of max(0, C + x - t - s): running sum of drift
            -- minus min(0, running min) — same incremental accumulation
            -- order as Spark's ROWS window, so drift sums agree bit-wise;
            -- (value - 55.0) - 1.0 mirrors the operator's two subtractions
            WITH p AS (
              SELECT event_id, event_type, ts,
                     sum(CASE WHEN value IS NOT NULL AND NOT isnan(value)
                              THEN (value - 55.0) - 1.0 ELSE 0.0 END)
                       OVER (PARTITION BY event_type ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS ps
              FROM events
            )
            SELECT event_id, event_type,
                   round(ps - least(0.0, min(ps) OVER w2), 6) AS value_cusum,
                   (ps - least(0.0, min(ps) OVER w2)) > 500.0 AS value_alarm
            FROM p
            WINDOW w2 AS (PARTITION BY event_type ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING)
        """,
        "tpch_q5_shape": """
            SELECT n_name,
                   CAST(sum(l_extendedprice::DECIMAL(12,2)
                            * (1::DECIMAL(12,2)
                               - l_discount::DECIMAL(12,2))) AS DOUBLE)
                     AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
                         AND c_nationkey = s_nationkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1997-01-01'
            GROUP BY n_name
        """,
        "tpch_q14_shape": """
            SELECT 100.0
                   * CAST(sum(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice::DECIMAL(12,2)
                               * (1::DECIMAL(12,2)
                                  - l_discount::DECIMAL(12,2))
                          ELSE 0::DECIMAL(12,2) END) AS DOUBLE)
                   / CAST(sum(l_extendedprice::DECIMAL(12,2)
                              * (1::DECIMAL(12,2)
                                 - l_discount::DECIMAL(12,2))) AS DOUBLE)
                     AS promo_revenue_pct,
                   CAST(sum(l_extendedprice::DECIMAL(12,2)
                            * (1::DECIMAL(12,2)
                               - l_discount::DECIMAL(12,2))) AS DOUBLE)
                     AS total_revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'
        """,
        "pq_codes": _PQ_CTE + f"""
            SELECT vec_id,
                   {", ".join(f"max(CASE WHEN block = {b} THEN code END)"
                              f" AS code{b}" for b in range(_PQ_B))}
            FROM pe GROUP BY vec_id
        """,
        "rollup_7d": """
            SELECT concat('7d-', CAST(floor(epoch_ms(ts) / 604800000.0)
                                      AS BIGINT)) AS "index",
                   event_type,
                   round(coalesce(sum(value), 0), 6) AS v_sum,
                   max(value) AS v_max,
                   count(value) AS n
            FROM events GROUP BY 1, 2
        """,
        "session_duration_stats": """
            -- strict > boundary: see stream_sessions
            WITH b AS (
              SELECT user_id, epoch_ms(ts) AS ms,
                     CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                            OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w
                               > 3600000
                          THEN 1 ELSE 0 END AS new_s
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
              SELECT user_id, ms,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ms)
                       AS sid
              FROM b
            ), sess AS (
              SELECT user_id, sid,
                     (max(ms) + 3600000 - min(ms)) / 1000.0 AS dur,
                     count(*) AS n
              FROM s GROUP BY user_id, sid
            )
            SELECT count(*) AS n_sessions,
                   round(quantile_cont(dur, 0.5), 6) AS dur_p50,
                   round(quantile_cont(dur, 0.9), 6) AS dur_p90,
                   round(avg(n), 6) AS events_per_session,
                   round(avg(CASE WHEN n = 1 THEN 1.0 ELSE 0.0 END), 6)
                     AS single_event_share
            FROM sess
        """,
        "user_lifetimes": """
            SELECT user_id, min(epoch_ms(ts)) AS first_ms,
                   max(epoch_ms(ts)) AS last_ms,
                   count(*) AS n_events,
                   count(DISTINCT CAST(floor(epoch_ms(ts) / 86400000.0)
                                       AS BIGINT)) AS active_days,
                   round((max(epoch_ms(ts)) - min(epoch_ms(ts)))
                         / 86400000.0, 6) AS span_days,
                   round(count(*) / CAST(count(DISTINCT
                         CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT))
                         AS DOUBLE), 6) AS events_per_active_day
            FROM events GROUP BY user_id
        """,
        "langid_confusion": """
            WITH tk AS (
              SELECT doc_id,
                     list_transform(
                       list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x != ''),
                       x -> regexp_replace(lower(x),
                           '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g')) AS mw
              FROM documents
            ), s AS (
              SELECT doc_id,
                len(list_filter(mw, x -> x IN ('the','and','of','a'))) AS s_en,
                len(list_filter(mw, x -> x IN ('der','die','und','das'))) AS s_de,
                len(list_filter(mw, x -> x IN ('le','la','et','les'))) AS s_fr,
                len(list_filter(mw, x -> x IN ('el','los','que','y'))) AS s_es
              FROM tk
            ), pred AS (
              SELECT doc_id,
                     CASE WHEN s_en > 0
                            AND s_en >= greatest(s_de, s_fr, s_es)
                            THEN 'en'
                          WHEN s_de > 0 AND s_de >= greatest(s_fr, s_es)
                            THEN 'de'
                          WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr'
                          WHEN s_es > 0 THEN 'es'
                          ELSE 'und' END AS lang_pred
              FROM s
            ), cm AS (
              SELECT d.lang AS actual, p.lang_pred, count(*) AS n
              FROM documents d JOIN pred p USING (doc_id)
              GROUP BY 1, 2
            )
            SELECT actual, lang_pred, n,
                   round(CAST(n AS DOUBLE)
                         / sum(n) OVER (PARTITION BY actual), 6)
                     AS recall_share
            FROM cm
        """,
        "throttle_30m": _THROTTLE_ORACLE,
        # identical integer fold, drained availableNow
        "stream_throttle": _THROTTLE_ORACLE,
        "embedding_drift": _EMB_CTE + f"""
            , c0 AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                     v AS c
              FROM e ORDER BY vec_id LIMIT 8
            ),
            a1 AS {_ivf_assign_cte("c0")},
            c1 AS {_ivf_means_cte("a1", "c0")},
            a2 AS {_ivf_assign_cte("c1")},
            c2 AS {_ivf_means_cte("a2", "c1")},
            af AS {_ivf_assign_cte("c2")},
            o AS (
              SELECT cell, count(*) AS n_old FROM af
              WHERE vec_id % 2 = 0 GROUP BY 1
            ), nn AS (
              SELECT cell, count(*) AS n_new FROM af
              WHERE vec_id % 2 = 1 GROUP BY 1
            ), cells AS (
              SELECT coalesce(o.cell, nn.cell) AS cell,
                     coalesce(n_old, 0) AS n_old,
                     coalesce(n_new, 0) AS n_new
              FROM o FULL OUTER JOIN nn ON o.cell = nn.cell
            )
            SELECT cell, n_old, n_new,
                   round((n_old + 1) / (sum(n_old) OVER () + 8.0), 6)
                     AS p_old,
                   round((n_new + 1) / (sum(n_new) OVER () + 8.0), 6)
                     AS p_new,
                   round(((n_new + 1) / (sum(n_new) OVER () + 8.0)
                          - (n_old + 1) / (sum(n_old) OVER () + 8.0))
                         * ln(((n_new + 1) / (sum(n_new) OVER () + 8.0))
                              / ((n_old + 1)
                                 / (sum(n_old) OVER () + 8.0))), 6)
                     AS psi_term
            FROM cells
        """,
        "corpus_diff": """
            WITH old_kept AS (
              SELECT doc_id, source,
                     CASE WHEN doc_id % 7 = 0 THEN substr(text, 1, 50)
                          ELSE text END AS text
              FROM documents WHERE doc_id % 10 != 9
            ), old_gone AS (
              SELECT doc_id + 1000000 AS doc_id, source, text
              FROM documents WHERE (doc_id + 1000000) % 3 = 0
            ), old AS (
              SELECT * FROM old_kept UNION ALL SELECT * FROM old_gone
            ), j AS (
              SELECT coalesce(n.source, o.source) AS source,
                     CASE WHEN o.doc_id IS NULL THEN 'added'
                          WHEN n.doc_id IS NULL THEN 'removed'
                          WHEN o.text = n.text THEN 'unchanged'
                          ELSE 'changed' END AS status
              FROM old o FULL OUTER JOIN documents n
                ON o.doc_id = n.doc_id
            )
            SELECT source, status, count(*) AS n_docs
            FROM j GROUP BY 1, 2
        """,
        "interarrival_stats": """
            WITH g AS (
              SELECT event_type,
                     (epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                        PARTITION BY event_type ORDER BY ts, event_id))
                       / 1000.0 AS gap
              FROM events
            )
            SELECT event_type, count(*) AS n_gaps,
                   round(avg(gap), 6) AS gap_mean,
                   round(quantile_cont(gap, 0.5), 6) AS gap_p50,
                   round(quantile_cont(gap, 0.9), 6) AS gap_p90,
                   round(quantile_cont(gap, 0.99), 6) AS gap_p99,
                   round(max(gap), 6) AS gap_max
            FROM g WHERE gap IS NOT NULL
            GROUP BY 1
        """,
        "series_describe": """
            SELECT event_type, count(value) AS n,
                   round(avg(value), 6) AS mean,
                   round(stddev_pop(value), 6) AS std,
                   min(value) AS min,
                   round(quantile_cont(value, 0.25), 6) AS q25,
                   round(quantile_cont(value, 0.5), 6) AS q50,
                   round(quantile_cont(value, 0.75), 6) AS q75,
                   max(value) AS max
            FROM events
            WHERE value IS NOT NULL AND NOT isnan(value)
            GROUP BY 1
        """,
        "stream_transitions": """
            WITH steps AS (
              SELECT event_type AS from_type,
                     lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)
                       AS to_type
              FROM events
            )
            SELECT from_type, to_type, count(*) AS n
            FROM steps WHERE to_type IS NOT NULL
            GROUP BY 1, 2
        """,
        "revenue_pareto": """
            WITH per_cust AS (
              SELECT o_custkey,
                     sum(l_extendedprice::DECIMAL(12,2)
                         * (1::DECIMAL(12,2) - l_discount::DECIMAL(12,2)))
                       AS rev
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              GROUP BY o_custkey
            ), deciles AS (
              SELECT ntile(10) OVER (ORDER BY rev DESC, o_custkey)
                       AS decile, rev
              FROM per_cust
            ), agg AS (
              SELECT decile, sum(rev) AS drev, count(*) AS n_cust
              FROM deciles GROUP BY decile
            )
            SELECT decile, n_cust, CAST(drev AS DOUBLE) AS revenue,
                   round(CAST(drev AS DOUBLE)
                         / CAST(sum(drev) OVER () AS DOUBLE), 6) AS share,
                   round(CAST(sum(drev) OVER (ORDER BY decile
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS DOUBLE)
                         / CAST(sum(drev) OVER () AS DOUBLE), 6)
                     AS cum_share
            FROM agg
        """,
        "funnel_latency": """
            WITH s1 AS (
              SELECT user_id, min(epoch_ms(ts)) AS t1_ms
              FROM events WHERE event_type = 'signup' GROUP BY user_id
            ), s2 AS (
              SELECT s1.user_id, s1.t1_ms,
                     min(CASE WHEN epoch_ms(c.ts) > s1.t1_ms
                              AND epoch_ms(c.ts) <= s1.t1_ms + 604800000
                              THEN epoch_ms(c.ts) END) AS t2_ms
              FROM s1 LEFT JOIN events c
                ON c.user_id = s1.user_id AND c.event_type = 'click'
              GROUP BY s1.user_id, s1.t1_ms
            ), s3 AS (
              SELECT s2.user_id, s2.t1_ms, s2.t2_ms,
                     min(CASE WHEN epoch_ms(p.ts) > s2.t2_ms
                              AND epoch_ms(p.ts) <= s2.t1_ms + 604800000
                              THEN epoch_ms(p.ts) END) AS t3_ms
              FROM s2 LEFT JOIN events p
                ON p.user_id = s2.user_id AND p.event_type = 'purchase'
              GROUP BY s2.user_id, s2.t1_ms, s2.t2_ms
            )
            SELECT count(t1_ms) AS n_s1, count(t2_ms) AS n_s2,
                   count(t3_ms) AS n_s3,
                   round(quantile_cont((t2_ms - t1_ms) / 1000.0, 0.5), 6)
                     AS lat12_p50,
                   round(quantile_cont((t2_ms - t1_ms) / 1000.0, 0.9), 6)
                     AS lat12_p90,
                   round(quantile_cont((t3_ms - t2_ms) / 1000.0, 0.5), 6)
                     AS lat23_p50,
                   round(quantile_cont((t3_ms - t2_ms) / 1000.0, 0.9), 6)
                     AS lat23_p90
            FROM s3
        """,
        "stream_sessions_sum": """
            -- strict > boundary + closed-only emission: see
            -- stream_sessions
            WITH b AS (
              SELECT user_id, epoch_ms(ts) AS ms, value,
                     CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                            OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w
                               > 3600000
                          THEN 1 ELSE 0 END AS new_s
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
              SELECT user_id, ms, value,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ms)
                       AS sid
              FROM b
            )
            SELECT user_id, min(ms) AS begin_ms,
                   max(ms) + 3600000 AS end_ms, count(*) AS n,
                   round(sum(value), 6) AS v_sum
            FROM s GROUP BY user_id, sid
            QUALIFY sid < max(sid) OVER (PARTITION BY user_id)
        """,
        "transition_matrix": """
            WITH steps AS (
              SELECT event_type AS from_type,
                     lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)
                       AS to_type
              FROM events
            ), cnt AS (
              SELECT from_type, to_type, count(*) AS n
              FROM steps WHERE to_type IS NOT NULL
              GROUP BY 1, 2
            )
            SELECT from_type, to_type, n,
                   round(CAST(n AS DOUBLE)
                         / sum(n) OVER (PARTITION BY from_type), 6) AS p
            FROM cnt
        """,
        "type_affinity": """
            WITH typed AS (
              SELECT DISTINCT l_orderkey, p_type
              FROM lineitem JOIN part ON l_partkey = p_partkey
            )
            SELECT a.p_type AS type_a, b.p_type AS type_b,
                   count(*) AS n_orders
            FROM typed a JOIN typed b
              ON a.l_orderkey = b.l_orderkey AND a.p_type < b.p_type
            GROUP BY 1, 2
        """,
        "anomaly_ensemble": """
            WITH s AS (
              SELECT event_id, event_type, ts, value,
                     avg(value) OVER w AS mu,
                     stddev_pop(value) OVER w AS sigma
              FROM events WINDOW w AS (PARTITION BY event_type)
            ), med AS (
              SELECT event_type, quantile_cont(value, 0.5) AS m
              FROM events
              WHERE value IS NOT NULL AND NOT isnan(value)
              GROUP BY 1
            ), mad AS (
              SELECT e.event_type,
                     quantile_cont(abs(e.value - med.m), 0.5) AS d
              FROM events e JOIN med USING (event_type)
              WHERE e.value IS NOT NULL AND NOT isnan(e.value)
              GROUP BY e.event_type
            ), prof AS (
              SELECT event_type, dayofweek(ts) AS dow, hour(ts) AS hod,
                     avg(value) AS mean, stddev_pop(value) AS std,
                     count(value) AS n
              FROM events
              WHERE value IS NOT NULL AND NOT isnan(value)
              GROUP BY 1, 2, 3
            ), scored AS (
              SELECT s.event_id, s.event_type,
                     CASE WHEN s.sigma = 0 THEN NULL
                          ELSE (s.value - s.mu) / s.sigma END AS z,
                     CASE WHEN mad.d > 0
                          THEN 0.6745 * (s.value - med.m) / mad.d
                     END AS rz,
                     CASE WHEN p.n >= 2 AND p.std > 0
                          THEN (s.value - p.mean) / p.std END AS dev
              FROM s
              JOIN med USING (event_type)
              JOIN mad USING (event_type)
              LEFT JOIN prof p
                ON s.event_type = p.event_type
               AND dayofweek(s.ts) = p.dow AND hour(s.ts) = p.hod
            )
            SELECT event_id, event_type,
                   round(z, 6) + 0.0 AS z,
                   round(rz, 6) + 0.0 AS rz,
                   round(dev, 6) + 0.0 AS dev,
                   coalesce(abs(z) > 3.0, false)::INT
                   + coalesce(abs(rz) > 3.5, false)::INT
                   + coalesce(abs(dev) > 3.0, false)::INT AS votes,
                   (coalesce(abs(z) > 3.0, false)::INT
                    + coalesce(abs(rz) > 3.5, false)::INT
                    + coalesce(abs(dev) > 3.0, false)::INT) >= 2
                     AS ensemble_anomaly
            FROM scored
        """,
        "cube_revenue": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(l_extendedprice::DECIMAL(12,2)
                            * (1::DECIMAL(12,2)
                               - l_discount::DECIMAL(12,2))) AS DOUBLE)
                     AS revenue,
                   count(*) AS n_items,
                   CAST(grouping(l_returnflag, l_linestatus) AS BIGINT)
                     AS grp
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "rollup_hierarchy": """
            SELECT year(o_orderdate) AS o_year,
                   month(o_orderdate) AS o_month,
                   round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders,
                   CAST(grouping(year(o_orderdate), month(o_orderdate))
                        AS BIGINT) AS grp
            FROM orders
            GROUP BY ROLLUP (year(o_orderdate), month(o_orderdate))
        """,
        "split_leakage": _SHINGLES + """
            , sp AS (
              SELECT doc_id,
                     CASE WHEN h < 0.98 THEN 'train'
                          WHEN h < 0.99 THEN 'val'
                          ELSE 'test' END AS split
              FROM (SELECT doc_id,
                           ('0x' || substr(md5('0|' || doc_id::VARCHAR),
                                           1, 8))::BIGINT
                             / 4294967296.0 AS h
                    FROM documents)
            ), ssh AS (
              SELECT DISTINCT doc_id, shingle FROM sh
            ), tr AS (
              SELECT DISTINCT s.shingle
              FROM ssh s JOIN sp USING (doc_id)
              WHERE sp.split = 'train'
            )
            SELECT s.doc_id, count(*) AS n_shingles,
                   count(tr.shingle) AS n_leaked,
                   round(CAST(count(tr.shingle) AS DOUBLE) / count(*), 6)
                     AS leak_share
            FROM ssh s
            JOIN sp USING (doc_id)
            LEFT JOIN tr ON s.shingle = tr.shingle
            WHERE sp.split = 'test'
            GROUP BY 1
        """,
        "minhash_jaccard_est": _SHINGLES + f"""
            , sig AS (
              SELECT doc_id,
                     {_mh_sig_cols(8)}
              FROM sh GROUP BY doc_id
            ), bands AS (
              SELECT doc_id, unnest([
                  md5(concat_ws('|', '0', m0, m1, m2, m3)),
                  md5(concat_ws('|', '1', m4, m5, m6, m7))]) AS band
              FROM sig
            ), cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.doc_id < b.doc_id
            ), sets AS (
              SELECT doc_id, list(DISTINCT shingle) AS s FROM sh
              GROUP BY doc_id
            )
            SELECT cand.id_a, cand.id_b,
                   round(({" + ".join(
                       f"(CASE WHEN a.m{k} = b.m{k} THEN 1 ELSE 0 END)"
                       for k in range(8))}) / 8.0, 6) AS jaccard_est,
                   round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                         / (len(sa.s) + len(sb.s)
                            - len(list_intersect(sa.s, sb.s))), 6)
                     AS jaccard_exact,
                   round(abs(({" + ".join(
                       f"(CASE WHEN a.m{k} = b.m{k} THEN 1 ELSE 0 END)"
                       for k in range(8))}) / 8.0
                         - CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                           / (len(sa.s) + len(sb.s)
                              - len(list_intersect(sa.s, sb.s)))), 6)
                     AS abs_err
            FROM cand
            JOIN sig a ON a.doc_id = cand.id_a
            JOIN sig b ON b.doc_id = cand.id_b
            JOIN sets sa ON sa.doc_id = cand.id_a
            JOIN sets sb ON sb.doc_id = cand.id_b
        """,
        "stream_distinct_hourly": f"""
            SELECT {_POS_1H} * 3600000 AS begin_ms, event_type,
                   count(DISTINCT user_id) AS u_user_id
            FROM events GROUP BY 1, 2
        """,
        "rollup_daily_local": """
            -- America/New_York in January == EST == UTC-5 for the whole
            -- data range; stated as an interval so the oracle does not
            -- depend on the SQL engine's session timezone
            SELECT strftime(date_trunc('day', ts - INTERVAL 5 HOUR),
                            '%Y-%m-%d') AS "index",
                   event_type,
                   round(coalesce(sum(value), 0), 6) AS v_sum,
                   count(value) AS n
            FROM events GROUP BY 1, 2
        """,
        "rollup_daily_local_dst": """
            -- America/New_York offsets stated as explicit CASEs on the
            -- known 2025 transition instants (07:00 UTC Mar 9 spring-
            -- forward, 06:00 UTC Nov 2 fall-back), so the 23h/25h local
            -- days are exercised without ICU or session-TZ dependence
            WITH shifted AS (
              SELECT value, 'spring' AS branch,
                     ts + INTERVAL 425 DAY AS t2
              FROM events
              UNION ALL
              SELECT value, 'fall' AS branch,
                     ts + INTERVAL 655 DAY AS t2
              FROM events
            ), localized AS (
              SELECT value, branch,
                     t2 - CASE
                       WHEN branch = 'spring' THEN
                         CASE WHEN t2 >= TIMESTAMP '2025-03-09 07:00:00'
                              THEN INTERVAL 4 HOUR ELSE INTERVAL 5 HOUR END
                       ELSE
                         CASE WHEN t2 >= TIMESTAMP '2025-11-02 06:00:00'
                              THEN INTERVAL 5 HOUR ELSE INTERVAL 4 HOUR END
                     END AS lt
              FROM shifted
            )
            SELECT strftime(date_trunc('day', lt), '%Y-%m-%d') AS "index",
                   branch,
                   round(coalesce(sum(value), 0), 6) AS v_sum,
                   count(value) AS n
            FROM localized GROUP BY 1, 2
        """,
        "ivfpq_topk": _EMB_CTE + f"""
            , c0 AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                     v AS c
              FROM e ORDER BY vec_id LIMIT 8
            ),
            a1 AS {_ivf_assign_cte("c0")},
            c1 AS {_ivf_means_cte("a1", "c0")},
            a2 AS {_ivf_assign_cte("c1")},
            c2 AS {_ivf_means_cte("a2", "c1")},
            q AS (SELECT v AS qv, nrm AS qn FROM e WHERE vec_id = 1),
            probes AS (
              SELECT c2.cell
              FROM c2, q
              ORDER BY coalesce({_sql_dot("c2.c", "q.qv")}
                       / (sqrt(list_sum([x * x for x in c2.c])) * q.qn),
                       -2.0) DESC,
                       c2.cell DESC
              LIMIT 2
            ),
            af AS {_ivf_assign_cte("c2")}
            {_PQ_BODY}
            , tbl AS (
              SELECT cb2.block, cb2.code,
                     {_pq_dist('q.qv', 'cb2.off', 'cb2.c')} AS d
              FROM cb2 CROSS JOIN q
            ), score AS (
              SELECT pe.vec_id,
                     round(list_sum(list(tbl.d ORDER BY tbl.block)), 6)
                       AS adc
              FROM pe
              JOIN af ON af.vec_id = pe.vec_id
              JOIN tbl ON pe.block = tbl.block AND pe.code = tbl.code
              WHERE af.cell IN (SELECT cell FROM probes)
              GROUP BY pe.vec_id
            )
            SELECT CAST(row_number() OVER (ORDER BY adc, vec_id) AS INT)
                     AS rank, vec_id, adc
            FROM score ORDER BY adc, vec_id LIMIT 5
        """,
        "pq_topk_adc": _PQ_CTE + f"""
            , q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
            tbl AS (
              SELECT cb2.block, cb2.code,
                     {_pq_dist('q.qv', 'cb2.off', 'cb2.c')} AS d
              FROM cb2 CROSS JOIN q
            ), score AS (
              -- list(ORDER BY block) -> list_sum: same left-to-right
              -- block order as the engine's lookup chain
              SELECT pe.vec_id,
                     round(list_sum(list(tbl.d ORDER BY tbl.block)), 6)
                       AS adc
              FROM pe JOIN tbl ON pe.block = tbl.block
                              AND pe.code = tbl.code
              GROUP BY pe.vec_id
            )
            SELECT CAST(row_number() OVER (ORDER BY adc, vec_id) AS INT)
                     AS rank, vec_id, adc
            FROM score ORDER BY adc, vec_id LIMIT 5
        """,
        "tpch_q9_shape": """
            SELECT n_name AS nation, year(o_orderdate) AS o_year,
                   CAST(sum(l_extendedprice::DECIMAL(12,2)
                            * (1::DECIMAL(12,2)
                               - l_discount::DECIMAL(12,2))
                            - CAST(p_retailprice::DECIMAL(12,2)
                                   * 0.5::DECIMAL(12,2) AS DECIMAL(12,2))
                              * l_quantity::DECIMAL(12,2)) AS DOUBLE)
                     AS sum_profit,
                   count(*) AS n_items
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_type = 'SMALL'
            GROUP BY 1, 2
        """,
        "tpch_q12_shape": """
            -- CAST: DuckDB sum(<int>) is HUGEINT -> float64 in pandas,
            -- which byte-mismatches Spark's int64 under the driver hash
            SELECT l_returnflag,
                   CAST(sum(CASE WHEN o_orderpriority IN
                                 ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT)
                     AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN
                                 ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT)
                     AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
            GROUP BY 1
        """,
        "dense_rollup_1h": f"""
            WITH roll AS (
              SELECT event_type, {_POS_1H} AS p,
                     round(coalesce(sum(value), 0), 6) AS v_sum,
                     count(value) AS n
              FROM events GROUP BY 1, 2
            ), spans AS (
              SELECT event_type, min(p) AS lo, max(p) AS hi
              FROM roll GROUP BY 1
            ), scaffold AS (
              SELECT event_type, unnest(generate_series(lo, hi)) AS p
              FROM spans
            )
            SELECT concat('1h-', scaffold.p) AS "index",
                   scaffold.event_type,
                   coalesce(v_sum, 0.0) AS v_sum,
                   coalesce(n, 0) AS n
            FROM scaffold LEFT JOIN roll
              ON scaffold.event_type = roll.event_type
             AND scaffold.p = roll.p
        """,
        "incremental_rollup": f"""
            -- from-scratch full-range rollup: the merged base+delta
            -- must hash-match this exactly
            SELECT concat('1h-', {_POS_1H}) AS "index", event_type,
                   round(coalesce(sum(value), 0), 6) AS v_sum,
                   count(value) AS n,
                   min(value) AS v_min, max(value) AS v_max,
                   round(avg(value), 6) AS v_avg
            FROM events GROUP BY 1, 2
        """,
        "melt_lineitem": """
            SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
                   round(l_quantity, 6) AS value_m FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_discount',
                   round(l_discount, 6) FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber, 'l_tax',
                   round(l_tax, 6) FROM lineitem
        """,
        "quantile_bins": """
            SELECT event_id, event_type,
                   CAST(ntile(10) OVER (PARTITION BY event_type
                                        ORDER BY value, event_id)
                        AS BIGINT) AS value_bin
            FROM events
        """,
        "salted_join_revenue": """
            -- the UNSALTED join: the gate proves the salted plan's
            -- result is identical
            SELECT o_orderpriority,
                   CAST(sum(l_extendedprice::DECIMAL(12,2)
                            * (1::DECIMAL(12,2)
                               - l_discount::DECIMAL(12,2))) AS DOUBLE)
                     AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority
        """,
        "rolling_corr_24h": """
            WITH b AS (
              SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT)
                       AS pos,
                     avg(CASE WHEN event_type = 'click' THEN value END)
                       AS va,
                     avg(CASE WHEN event_type = 'view' THEN value END)
                       AS vb
              FROM events
              WHERE value IS NOT NULL AND NOT isnan(value)
              GROUP BY 1
            ), s AS (
              SELECT pos, va, vb,
                     (va IS NOT NULL AND vb IS NOT NULL) AS is_pair,
                     count(CASE WHEN va IS NOT NULL AND vb IS NOT NULL
                                THEN 1 END) OVER w AS n,
                     sum(CASE WHEN vb IS NOT NULL THEN va END) OVER w
                       AS sx,
                     sum(CASE WHEN va IS NOT NULL THEN vb END) OVER w
                       AS sy,
                     sum(CASE WHEN vb IS NOT NULL THEN va * va END)
                       OVER w AS sxx,
                     sum(CASE WHEN va IS NOT NULL THEN vb * vb END)
                       OVER w AS syy,
                     sum(va * vb) OVER w AS sxy
              FROM b
              WINDOW w AS (ORDER BY pos
                           RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)
            )
            SELECT pos,
                   round((n * sxy - sx * sy)
                         / sqrt((n * sxx - sx * sx)
                                * (n * syy - sy * sy)), 6) + 0.0 AS r,
                   round((n * sxy - sx * sy)
                         / (n * sxx - sx * sx), 6) + 0.0 AS beta,
                   n AS n_pairs
            FROM s WHERE is_pair
        """,
        "stream_sessions": """
            -- strict >: an event at exactly last+window joins the
            -- session (Spark session_window's inclusive end)
            WITH b AS (
              SELECT user_id, epoch_ms(ts) AS ms,
                     CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                            OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w
                               > 3600000
                          THEN 1 ELSE 0 END AS new_s
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
              SELECT user_id, ms,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ms)
                       AS sid
              FROM b
            )
            SELECT user_id, min(ms) AS begin_ms,
                   max(ms) + 3600000 AS end_ms, count(*) AS n
            FROM s GROUP BY user_id, sid
            -- the stream emits a session only when the NEXT one opens:
            -- each key's final (still-open) session has no closer
            QUALIFY sid < max(sid) OVER (PARTITION BY user_id)
        """,
        "acf_hourly_by_type": """
            WITH b AS (
              SELECT event_type,
                     CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS p,
                     avg(value) AS v
              FROM events
              WHERE value IS NOT NULL AND NOT isnan(value)
              GROUP BY 1, 2
            )
            SELECT a.event_type, l.k AS "lag",
                   round(corr(a.v, c.v), 6) AS r,
                   count(*) AS n_pairs
            FROM b a
            CROSS JOIN (VALUES (1), (2), (3), (24)) l(k)
            JOIN b c ON c.event_type = a.event_type AND c.p = a.p + l.k
            GROUP BY 1, 2
        """,
        "theilsen_by_user": """
            WITH b AS (
              SELECT user_id,
                     CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS p,
                     avg(value) AS v
              FROM events
              WHERE value IS NOT NULL AND NOT isnan(value)
              GROUP BY 1, 2
            ), s AS (
              SELECT user_id,
                     CAST(p - min(p) OVER (PARTITION BY user_id)
                          AS DOUBLE) AS x, v
              FROM b
            ), sl AS (
              SELECT a.user_id,
                     median((c.v - a.v) / (c.x - a.x)) AS m,
                     count(*) AS n_pairs
              FROM s a
              JOIN s c ON c.user_id = a.user_id AND c.x > a.x
              GROUP BY 1
            )
            SELECT s.user_id, round(any_value(sl.m), 6) AS ts_slope,
                   round(median(s.v - sl.m * s.x), 6) AS ts_intercept,
                   any_value(sl.n_pairs) AS n_pairs,
                   count(*) AS n_buckets
            FROM s JOIN sl ON s.user_id = sl.user_id
            GROUP BY s.user_id
        """,
        "tpch_q7_shape": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   year(l_shipdate) AS l_year,
                   CAST(sum(l_extendedprice::DECIMAL(12,2)
                            * (1::DECIMAL(12,2)
                               - l_discount::DECIMAL(12,2))) AS DOUBLE)
                     AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
              AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            GROUP BY 1, 2, 3
        """,
        "tpch_q8_shape": """
            SELECT year(o_orderdate) AS o_year,
                   CAST(sum(CASE WHEN n1.n_name = 'NATION_3'
                          THEN l_extendedprice::DECIMAL(12,2)
                               * (1::DECIMAL(12,2)
                                  - l_discount::DECIMAL(12,2))
                          ELSE 0::DECIMAL(12,2) END) AS DOUBLE)
                   / CAST(sum(l_extendedprice::DECIMAL(12,2)
                              * (1::DECIMAL(12,2)
                                 - l_discount::DECIMAL(12,2))) AS DOUBLE)
                     AS mkt_share,
                   CAST(sum(l_extendedprice::DECIMAL(12,2)
                            * (1::DECIMAL(12,2)
                               - l_discount::DECIMAL(12,2))) AS DOUBLE)
                     AS total_revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            JOIN region   ON n2.n_regionkey = r_regionkey
            WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
            GROUP BY 1
        """,
        "tpch_q13_shape": """
            SELECT c_count, count(*) AS custdist
            FROM (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer
              LEFT JOIN orders ON c_custkey = o_custkey
                              AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey
            ) GROUP BY c_count
        """,
        "tpch_q15_shape": """
            WITH rev AS (
              SELECT l_suppkey,
                     sum(l_extendedprice::DECIMAL(12,2)
                         * (1::DECIMAL(12,2) - l_discount::DECIMAL(12,2)))
                       AS r
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate <  TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE r = (SELECT max(r) FROM rev)
        """,
        "tpch_q17_shape": """
            WITH li AS (
              SELECT l.* FROM lineitem l
              JOIN part ON l_partkey = p_partkey
              WHERE p_brand = 'Brand#5'
            ), thresh AS (
              SELECT l_partkey AS pk,
                     round(0.2 * avg(l_quantity), 6) AS t
              FROM li GROUP BY l_partkey
            )
            SELECT CAST(sum(l_extendedprice::DECIMAL(12,2)) AS DOUBLE)
                     / 7.0 AS avg_yearly,
                   count(*) AS n_items
            FROM li JOIN thresh ON l_partkey = pk
            WHERE l_quantity < t
        """,
        "tpch_q21_shape": """
            WITH base AS (
              SELECT l.l_orderkey, l.l_suppkey,
                     (l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
                       AS late
              FROM lineitem l JOIN orders o
                ON l.l_orderkey = o.o_orderkey
              WHERE o.o_orderstatus = 'F'
            ), per_order AS (
              SELECT l_orderkey,
                     count(DISTINCT l_suppkey) AS n_sup,
                     count(DISTINCT CASE WHEN late THEN l_suppkey END)
                       AS n_late
              FROM base GROUP BY 1
            ), waiting AS (
              SELECT DISTINCT b.l_orderkey, b.l_suppkey
              FROM base b JOIN per_order p
                ON b.l_orderkey = p.l_orderkey
              WHERE b.late AND p.n_sup > 1 AND p.n_late = 1
            )
            SELECT s.s_name, count(*) AS numwait
            FROM waiting w
            JOIN supplier s ON w.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE n.n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3','NATION_4')
            GROUP BY s.s_name
        """,
        "tpch_q2_shape": """
            WITH fpart AS (
              SELECT p_partkey, p_name, p_size FROM part
              WHERE p_type = 'LARGE' AND p_size <= 15
            ), cost AS (
              SELECT p_partkey, p_name, p_size, l_suppkey,
                     min(l_extendedprice / l_quantity) AS c
              FROM lineitem JOIN fpart ON l_partkey = p_partkey
              GROUP BY 1, 2, 3, 4
            ), best AS (
              SELECT p_partkey AS pk, min(c) AS b FROM cost GROUP BY 1
            )
            SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
                   CAST(p_size AS BIGINT) AS p_size,
                   round(c, 6) AS min_cost
            FROM cost
            JOIN best ON p_partkey = pk AND c = b
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        """,
        "tpch_q11_shape": """
            WITH asup AS (
              SELECT s_suppkey FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA'
            ), val AS (
              SELECT l_partkey,
                     sum(l_extendedprice::DECIMAL(12,2)
                         * (1::DECIMAL(12,2) - l_discount::DECIMAL(12,2)))
                       AS v
              FROM lineitem JOIN asup ON l_suppkey = s_suppkey
              GROUP BY 1
            )
            SELECT l_partkey, CAST(v AS DOUBLE) AS part_value
            FROM val
            WHERE v > (SELECT sum(v) FROM val) * 0.001
        """,
        "tpch_q16_shape": """
            WITH pairs AS (
              SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
              WHERE l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            )
            SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM pairs JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1' AND p_type <> 'SMALL'
              AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34, 39, 44, 49)
            GROUP BY 1, 2, 3
        """,
        "tpch_q20_shape": """
            WITH pair AS (
              SELECT l_partkey, l_suppkey,
                     sum(CASE WHEN l_shipdate >= TIMESTAMP '1995-01-01'
                               AND l_shipdate <  TIMESTAMP '1996-01-01'
                              THEN l_quantity::DECIMAL(12,2) END) AS q95,
                     sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                               AND l_shipdate <  TIMESTAMP '1997-01-01'
                              THEN l_quantity::DECIMAL(12,2) END) AS q96
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
              WHERE p_name LIKE 'small%'
              GROUP BY 1, 2
            )
            SELECT s_suppkey, s_name, n_name
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            WHERE n_regionkey IN (0, 1)
              AND s_suppkey IN (
                SELECT l_suppkey FROM pair
                WHERE q95 IS NOT NULL AND q96 IS NOT NULL
                  AND q96 > q95 * 0.5)
        """,
        "tpch_q22_shape": """
            WITH avg_bal AS (
              SELECT round(avg(c_acctbal), 6) AS a
              FROM customer WHERE c_acctbal > 0
            )
            SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
                   count(*) AS numcust,
                   round(sum(c_acctbal), 2) AS totacctbal
            FROM customer, avg_bal
            WHERE c_acctbal > a
              AND NOT EXISTS (
                SELECT 1 FROM orders
                WHERE o_custkey = c_custkey
                  AND o_orderpriority = '1-URGENT'
                  AND o_orderdate >= TIMESTAMP '1998-01-01')
            GROUP BY 1
        """,
        "holt_per_user": _HOLT_ORACLE,
        # identical recurrence, drained availableNow
        "stream_holt": _HOLT_ORACLE,
        "holt_winters_per_user": _HW_ORACLE,
        # identical recurrence, drained availableNow
        "stream_holt_winters": _HW_ORACLE,
        "trend_per_user": """
            WITH v AS (
              SELECT user_id, epoch_ms(ts) AS ms, value
              FROM events WHERE value IS NOT NULL AND NOT isnan(value)
            ), s AS (
              SELECT user_id,
                     (ms - min(ms) OVER (PARTITION BY user_id))
                       / 3600000.0 AS t,
                     value AS x
              FROM v
            ), a AS (
              SELECT user_id, count(*) AS n, sum(t) AS sx, sum(x) AS sy,
                     sum(t * t) AS sxx, sum(t * x) AS sxy
              FROM s GROUP BY 1
            )
            SELECT user_id,
                   round(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                         ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx)
                         END, 6) AS slope,
                   round((sy - CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                          ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx)
                          END * sx) / n, 6) AS intercept,
                   n
            FROM a
        """,
        "lexical_stats": """
            WITH tk AS (
              SELECT doc_id, x AS tok FROM (
                SELECT doc_id,
                       unnest(list_transform(
                         list_filter(string_split_regex(trim(text), '\\s+'),
                                     x -> x != ''),
                         x -> regexp_replace(lower(x),
                             '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g'))) AS x
                FROM documents)
              WHERE x != ''
            ), c AS (
              SELECT doc_id, tok, count(*) AS cnt FROM tk GROUP BY 1, 2
            )
            SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
                   count(*) AS n_types,
                   round(count(*) / CAST(sum(cnt) AS DOUBLE), 6) AS ttr,
                   round(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE), 6) AS hapax_share
            FROM c GROUP BY 1
        """,
        "zipf_slope": """
            WITH tk AS (
              SELECT x AS tok FROM (
                SELECT unnest(list_transform(
                         list_filter(string_split_regex(trim(text), '\\s+'),
                                     x -> x != ''),
                         x -> regexp_replace(lower(x),
                             '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g'))) AS x
                FROM documents)
              WHERE x != ''
            ), f AS (
              SELECT tok, count(*) AS fr FROM tk GROUP BY tok
            ), pts AS (
              SELECT ln(CAST(row_number() OVER (ORDER BY fr DESC, tok)
                             AS DOUBLE)) AS lr,
                     ln(CAST(fr AS DOUBLE)) AS lf
              FROM f
            ), a AS (
              SELECT count(*) AS vocab, sum(lr) AS sx, sum(lf) AS sy,
                     sum(lr * lr) AS sxx, sum(lr * lf) AS sxy
              FROM pts
            ), tot AS (SELECT count(*) AS nt FROM tk)
            SELECT round((vocab * sxy - sx * sy)
                         / (vocab * sxx - sx * sx), 6) AS slope,
                   round((sy - (vocab * sxy - sx * sy)
                          / (vocab * sxx - sx * sx) * sx) / vocab, 6)
                     AS intercept,
                   vocab, tot.nt AS n_tokens
            FROM a CROSS JOIN tot
        """,
        "strip_spans": """
            -- repeated_spans' CTE chain, then per-doc segment reassembly
            WITH p AS (
              SELECT doc_id, text,
                     unnest(generate_series(1, len(text) - 29)) AS i
              FROM documents WHERE len(text) >= 30
            ), g AS (
              SELECT doc_id, i - 1 AS pos,
                     md5(substr(text, i, 30)) AS h
              FROM p
            ), d AS (
              SELECT h FROM g GROUP BY h
              HAVING count(DISTINCT doc_id) > 1
            ), c AS (
              SELECT g.doc_id, g.pos FROM g JOIN d USING (h)
            ), s AS (
              SELECT doc_id, pos,
                     CASE WHEN max(pos + 30) OVER wprev IS NULL
                            OR pos > max(pos + 30) OVER wprev
                          THEN 1 ELSE 0 END AS ns
              FROM c
              WINDOW wprev AS (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING)
            ), sp AS (
              SELECT doc_id, pos,
                     sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS span
              FROM s
            ), spans AS (
              SELECT doc_id, min(pos) AS s, max(pos) + 30 AS e
              FROM sp GROUP BY doc_id, span
            ), segs AS (
              SELECT spans.doc_id, doc.text,
                     coalesce(lag(e) OVER w, 0) AS seg_start,
                     s AS seg_end
              FROM spans JOIN documents doc USING (doc_id)
              WINDOW w AS (PARTITION BY spans.doc_id ORDER BY s)
              UNION ALL
              SELECT spans.doc_id, doc.text, max(e), len(doc.text)
              FROM spans JOIN documents doc USING (doc_id)
              GROUP BY spans.doc_id, doc.text
            ), clean AS (
              SELECT doc_id,
                     string_agg(substr(text, seg_start + 1,
                                       seg_end - seg_start),
                                '' ORDER BY seg_start) AS ctext
              FROM segs WHERE seg_end > seg_start
              GROUP BY doc_id
            ), cuts AS (
              SELECT doc_id, sum(e - s) AS n_cut FROM spans GROUP BY 1
            )
            SELECT doc.doc_id,
                   md5(CASE WHEN cuts.doc_id IS NOT NULL
                       THEN coalesce(clean.ctext, '')
                       ELSE doc.text END) AS clean_md5,
                   CAST(coalesce(cuts.n_cut, 0) AS BIGINT) AS n_cut
            FROM documents doc
            LEFT JOIN clean USING (doc_id)
            LEFT JOIN cuts USING (doc_id)
        """,
        "tpch_q10_shape": """
            SELECT c_custkey, c_name, n_name,
                   round(c_acctbal, 2) AS c_acctbal,
                   CAST(sum(l_extendedprice::DECIMAL(12,2)
                            * (1::DECIMAL(12,2)
                               - l_discount::DECIMAL(12,2))) AS DOUBLE)
                     AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1996-07-01'
            GROUP BY 1, 2, 3, 4
        """,
        "tpch_q19_shape": """
            SELECT CAST(sum(l_extendedprice::DECIMAL(12,2)
                            * (1::DECIMAL(12,2)
                               - l_discount::DECIMAL(12,2))) AS DOUBLE)
                     AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size <= 10
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#15' AND p_size <= 20
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#23' AND p_size <= 30
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "repeated_spans": """
            -- same k-gram fingerprints + interval sweep
            WITH p AS (
              SELECT doc_id, text,
                     unnest(generate_series(1, len(text) - 29)) AS i
              FROM documents WHERE len(text) >= 30
            ), g AS (
              SELECT doc_id, i - 1 AS pos,
                     md5(substr(text, i, 30)) AS h
              FROM p
            ), d AS (
              SELECT h FROM g GROUP BY h
              HAVING count(DISTINCT doc_id) > 1
            ), c AS (
              SELECT g.doc_id, g.pos FROM g JOIN d USING (h)
            ), s AS (
              SELECT doc_id, pos,
                     CASE WHEN max(pos + 30) OVER wprev IS NULL
                            OR pos > max(pos + 30) OVER wprev
                          THEN 1 ELSE 0 END AS ns
              FROM c
              WINDOW wprev AS (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING)
            ), sp AS (
              SELECT doc_id, pos,
                     sum(ns) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS span
              FROM s
            )
            SELECT doc_id, min(pos) AS span_start,
                   max(pos) + 30 AS span_end,
                   max(pos) + 30 - min(pos) AS span_len,
                   count(*) AS n_grams
            FROM sp GROUP BY doc_id, span
        """,
        "fill_pad_max_gap": f"""
            SELECT event_id, user_id,
                   round(CASE WHEN v IS NOT NULL THEN v
                         WHEN ms - last_value(CASE WHEN v IS NOT NULL
                                 THEN ms END IGNORE NULLS) OVER wprev
                              <= 7200000
                         THEN last_value(v IGNORE NULLS) OVER wprev
                         ELSE NULL END, 6) AS value_filled
            FROM ({_NULLIFIED})
            WINDOW wprev AS (PARTITION BY user_id ORDER BY ms
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING)
        """,
        "rolling_robust_z_1h": """
            -- same sorted-frame quantile arithmetic as the Spark compile
            WITH b AS (
              SELECT event_id, user_id, epoch_ms(ts) AS t_ms, value,
                     list_sort(list(value) FILTER (WHERE value IS NOT NULL)
                       OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
                             RANGE BETWEEN 3599999 PRECEDING
                             AND CURRENT ROW)) AS arr
              FROM events
            ), m AS (
              SELECT *, len(arr) AS n,
                     CAST(floor((len(arr) - 1) * 0.5) AS BIGINT) AS lo,
                     (len(arr) - 1) * 0.5
                       - CAST(floor((len(arr) - 1) * 0.5) AS BIGINT)
                       AS frac
              FROM b
            ), med AS (
              SELECT event_id, user_id, t_ms, value, arr, n,
                     CASE WHEN n = 0 THEN NULL
                          ELSE arr[lo + 1]
                               + (arr[least(lo + 2, n)] - arr[lo + 1])
                                 * frac END AS md
              FROM m
            ), dev AS (
              SELECT *, list_sort([abs(x - md) for x in arr]) AS darr
              FROM med
            ), mad AS (
              SELECT event_id, user_id, t_ms, value, md, n,
                     CASE WHEN n = 0 THEN NULL
                          ELSE darr[CAST(floor((n - 1) * 0.5) AS BIGINT)
                                    + 1]
                               + (darr[least(CAST(floor((n - 1) * 0.5)
                                             AS BIGINT) + 2, n)]
                                  - darr[CAST(floor((n - 1) * 0.5)
                                         AS BIGINT) + 1])
                                 * ((n - 1) * 0.5
                                    - CAST(floor((n - 1) * 0.5)
                                           AS BIGINT)) END AS mad
              FROM dev
            )
            SELECT event_id, user_id, t_ms,
                   round(CASE WHEN value IS NOT NULL AND mad > 0
                         THEN 0.6745 * (value - md) / mad END, 6)
                     AS value_rrz,
                   coalesce(abs(CASE WHEN value IS NOT NULL AND mad > 0
                                THEN 0.6745 * (value - md) / mad END)
                            > 3.5, false) AS value_outlier
            FROM mad
        """,
        "wire_roundtrip": """
            SELECT event_id, user_id, epoch_ms(ts) AS t_ms, event_type,
                   round(value, 6) AS value
            FROM events WHERE user_id <= 3
        """,
        "rollup_missing_filters": f"""
            WITH n AS ({_NULLIFIED})
            SELECT concat('1h-', CAST(floor(ms / 3600000.0) AS BIGINT))
                     AS "index",
                   round(avg(coalesce(v, 0)), 6) AS v_zero,
                   round(CASE WHEN count(*) > count(v) THEN NULL
                         ELSE sum(v) END, 6) AS v_prop,
                   count(*) AS n_keep
            FROM n GROUP BY 1
        """,
        "custom_reducer_midrange": """
            SELECT concat('1d-', CAST(floor(epoch_ms(ts) / 86400000.0)
                                      AS BIGINT)) AS "index", event_type,
                   round((min(value) + max(value)) / 2.0, 6) AS mid,
                   count(value) AS n
            FROM events GROUP BY 1, 2
        """,
        "groupby_callable": f"""
            SELECT concat('1h-', {_POS_1H}) AS "index",
                   'u' || (user_id % 3) AS grp,
                   round(sum(value), 6) AS v_sum, count(value) AS n
            FROM events GROUP BY 1, 2
        """,
        "as_indexed_events": f"""
            SELECT concat('1h-', {_POS_1H}) AS "index",
                   CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT)
                     * 3600000 AS begin_ms,
                   (CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) + 1)
                     * 3600000 AS end_ms,
                   event_id, round(value, 6) AS value
            FROM events
        """,
        "filter_map_callable": """
            SELECT event_id, epoch_ms(ts) AS t_ms,
                   round(value * 2.0, 6) AS v2
            FROM events WHERE value > 50.0
        """,
        "pivot_hourly_types": f"""
            SELECT concat('1h-', {_POS_1H}) AS "index",
                   round(avg(CASE WHEN event_type = 'click'
                             THEN value END), 6) AS click,
                   round(avg(CASE WHEN event_type = 'view'
                             THEN value END), 6) AS view,
                   round(avg(CASE WHEN event_type = 'signup'
                             THEN value END), 6) AS signup,
                   round(avg(CASE WHEN event_type = 'purchase'
                             THEN value END), 6) AS purchase,
                   round(avg(CASE WHEN event_type = 'error'
                             THEN value END), 6) AS error
            FROM events GROUP BY 1
        """,
        "sample_weighted": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE ('0x' || substr(md5('7|' || doc_id::VARCHAR), 1, 8))
                      ::BIGINT / 4294967296.0
                  < least(greatest(n_chars / 4000.0, 0.0), 1.0)
        """,
        "weighted_take": """
            -- A-ES priorities: ln(u) / w with the same clamped hash u
            SELECT doc_id, source, n_chars FROM (
              SELECT doc_id, source, n_chars,
                     ln(greatest(
                          ('0x' || substr(md5('7|' || doc_id::VARCHAR),
                                          1, 8))::BIGINT / 4294967296.0,
                          pow(2.0, -40))) / CAST(n_chars AS DOUBLE) AS s
              FROM documents WHERE n_chars > 0
            )
            QUALIFY row_number() OVER (
              PARTITION BY source ORDER BY s DESC, doc_id) <= 20
        """,
        "rolling_median_10m": """
            -- same sorted-frame array arithmetic as the Spark compile
            -- (DuckDB's native median-over-frame might interpolate with
            -- different float ops; the list form is op-identical)
            WITH b AS (
              SELECT event_id, user_id, epoch_ms(ts) AS t_ms,
                     list_sort(list(value) FILTER (WHERE value IS NOT NULL)
                       OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
                             RANGE BETWEEN 599999 PRECEDING
                             AND CURRENT ROW)) AS arr
              FROM events
            ), m AS (
              SELECT event_id, user_id, t_ms, arr, len(arr) AS n,
                     CAST(floor((len(arr) - 1) * 0.9) AS BIGINT) AS lo,
                     (len(arr) - 1) * 0.9
                       - CAST(floor((len(arr) - 1) * 0.9) AS BIGINT)
                       AS frac
              FROM b
            )
            SELECT event_id, user_id, t_ms,
                   round(CASE WHEN n = 0 THEN NULL
                         WHEN n % 2 = 1 THEN arr[(n + 1) // 2]
                         ELSE (arr[n // 2] + arr[n // 2 + 1]) / 2.0
                         END, 6) AS med_10m,
                   round(CASE WHEN n = 0 THEN NULL
                         ELSE arr[lo + 1]
                              + (arr[least(lo + 2, n)] - arr[lo + 1])
                                * frac
                         END, 6) AS p90_10m
            FROM m
        """,
        "cusum_two_sided": """
            -- both sides share the window; lower drift mirrors the
            -- operator's (55.0 - value) - 1.0 subtraction order
            WITH p AS (
              SELECT event_id, event_type, ts,
                     sum(CASE WHEN value IS NOT NULL AND NOT isnan(value)
                              THEN (value - 55.0) - 1.0 ELSE 0.0 END)
                       OVER w AS ps,
                     sum(CASE WHEN value IS NOT NULL AND NOT isnan(value)
                              THEN (55.0 - value) - 1.0 ELSE 0.0 END)
                       OVER w AS pd
              FROM events
              WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING)
            )
            SELECT event_id, event_type,
                   round(ps - least(0.0, min(ps) OVER w2), 6)
                     AS value_cusum,
                   round(pd - least(0.0, min(pd) OVER w2), 6)
                     AS value_cusum_dn,
                   ((ps - least(0.0, min(ps) OVER w2)) > 500.0
                    OR (pd - least(0.0, min(pd) OVER w2)) > 500.0)
                     AS value_alarm
            FROM p
            WINDOW w2 AS (PARTITION BY event_type ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING)
        """,
        "psi_drift": """
            WITH b AS (
              SELECT event_type,
                     CAST(floor(value / 25.0) AS BIGINT) AS bin,
                     (ts >= TIMESTAMP '2024-07-01') AS cur
              FROM events
              WHERE value IS NOT NULL AND NOT isnan(value)
            ), c AS (
              SELECT event_type, bin,
                     CAST(sum(CASE WHEN NOT cur THEN 1 ELSE 0 END)
                          AS BIGINT) AS c_base,
                     CAST(sum(CASE WHEN cur THEN 1 ELSE 0 END)
                          AS BIGINT) AS c_cur
              FROM b GROUP BY 1, 2
            ), t AS (
              SELECT event_type, sum(c_base) AS nb, sum(c_cur) AS nc,
                     count(*) AS B
              FROM c GROUP BY 1
            )
            SELECT c.event_type, bin, bin * 25.0 AS lo, c_base, c_cur,
                   round((c_base + 0.5) / (nb + 0.5 * B), 6) AS p_base,
                   round((c_cur + 0.5) / (nc + 0.5 * B), 6) AS p_cur,
                   round(((c_cur + 0.5) / (nc + 0.5 * B)
                          - (c_base + 0.5) / (nb + 0.5 * B))
                         * ln(((c_cur + 0.5) / (nc + 0.5 * B))
                              / ((c_base + 0.5) / (nb + 0.5 * B))), 6)
                     AS contrib
            FROM c JOIN t USING (event_type)
        """,
        "interval_coverage": """
            -- the same sweep: new-span flag where begin clears the
            -- running max of previous ends; span id = running flag sum
            WITH iv AS (
              SELECT user_id, epoch_ms(ts) AS b,
                     epoch_ms(ts)
                     + CAST(floor(value * 1000) AS BIGINT) AS e
              FROM events WHERE value IS NOT NULL
            ), f AS (SELECT * FROM iv WHERE e > b),
            s AS (
              SELECT user_id, b, e,
                     CASE WHEN max(e) OVER wprev IS NULL
                            OR b > max(e) OVER wprev
                          THEN 1 ELSE 0 END AS ns
              FROM f
              WINDOW wprev AS (PARTITION BY user_id ORDER BY b, e
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING)
            ), sp AS (
              SELECT user_id, b, e,
                     sum(ns) OVER (PARTITION BY user_id ORDER BY b, e
                                   ROWS UNBOUNDED PRECEDING) AS span
              FROM s
            ), m AS (
              SELECT user_id, span, min(b) AS sb, max(e) AS se,
                     count(*) AS n
              FROM sp GROUP BY 1, 2
            )
            SELECT user_id, CAST(sum(se - sb) AS BIGINT) AS covered_ms,
                   count(*) AS n_spans,
                   CAST(sum(n) AS BIGINT) AS n_intervals
            FROM m GROUP BY user_id
        """,
        "twa_hourly": """
            -- (pv + value) / 2.0 * dt mirrors the operator's float-op
            -- order exactly; the trapezoid joins the window of its LEFT
            -- endpoint
            WITH b AS (
              SELECT user_id, epoch_ms(ts) AS ms, value,
                     lag(epoch_ms(ts)) OVER w AS pms,
                     lag(value) OVER w AS pv
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
              SELECT user_id,
                     CAST(floor(pms / 3600000.0) AS BIGINT) AS pos,
                     (pv + value) / 2.0 * ((ms - pms) / 1000.0) AS area,
                     (ms - pms) / 1000.0 AS dt
              FROM b
              WHERE pms IS NOT NULL AND pv IS NOT NULL
                AND value IS NOT NULL
            )
            SELECT user_id, pos * 3600000 AS begin_ms,
                   round(sum(area), 6) AS integral,
                   round(sum(area) / sum(dt), 6) AS twa,
                   count(*) AS n_seg
            FROM s GROUP BY 1, 2
        """,
        "tpch_q18_shape": """
            WITH big AS (
              SELECT l_orderkey, sum(l_quantity) AS sum_qty
              FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150
            )
            SELECT c_name, o_orderkey, epoch_ms(o_orderdate) AS odate_ms,
                   round(o_totalprice, 2) AS o_totalprice,
                   round(sum_qty, 2) AS sum_qty
            FROM big
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "asof_signup_purchase": """
            SELECT l.event_id, l.user_id,
                   round(l.value, 6) AS purchase_v,
                   round(r.value, 6) AS signup_v
            FROM (SELECT * FROM events WHERE event_type = 'purchase') l
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'signup') r
              ON l.user_id = r.user_id AND r.ts <= l.ts
        """,
        "sliding_2h_count": """
            WITH b AS (SELECT epoch_ms(ts) AS ms, value FROM events),
            w AS (
              SELECT unnest(generate_series(
                       CAST(floor((ms - 7200000) / 3600000.0) AS BIGINT) + 1,
                       CAST(floor(ms / 3600000.0) AS BIGINT))) AS k,
                     ms, value
              FROM b
            )
            SELECT k * 3600000 AS begin_ms, k * 3600000 + 7200000 AS end_ms,
                   count(value) AS n,
                   round(coalesce(sum(value), 0), 6) AS v_sum
            FROM w GROUP BY 1, 2
        """,
        "session_1h_by_user": """
            -- strict >: an event at exactly last+window joins the
            -- session (Spark session_window's inclusive end)
            WITH b AS (
              SELECT user_id, epoch_ms(ts) AS ms,
                     CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                            OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w
                               > 3600000
                          THEN 1 ELSE 0 END AS new_s
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
              SELECT user_id, ms,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ms)
                       AS sid
              FROM b
            )
            SELECT user_id, min(ms) AS begin_ms,
                   max(ms) + 3600000 AS end_ms, count(*) AS n
            FROM s GROUP BY user_id, sid
        """,
        "fill_pad_per_user": f"""
            SELECT event_id, user_id,
                   round(coalesce(v, last_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ms
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), 6)
                   AS value_filled
            FROM ({_NULLIFIED})
        """,
        "fill_zero_limit": f"""
            WITH base AS ({_NULLIFIED}),
            runs AS (
              SELECT event_id, user_id, ms, v,
                     sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ms) AS run_id
              FROM base
            ), pos AS (
              SELECT event_id, user_id, v,
                     sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id, run_id ORDER BY ms)
                     AS pos_in_run
              FROM runs
            )
            SELECT event_id, user_id,
                   round(CASE WHEN v IS NOT NULL THEN v
                              WHEN pos_in_run <= 2 THEN 0 END, 6)
                   AS value_filled
            FROM pos
        """,
        "fill_linear_per_user": f"""
            WITH base AS ({_NULLIFIED}),
            br AS (
              SELECT event_id, user_id, ms, v,
                lag(v IGNORE NULLS) OVER w AS pv,
                lag(CASE WHEN v IS NOT NULL THEN ms END IGNORE NULLS)
                  OVER w AS pms,
                lead(v IGNORE NULLS) OVER w AS nv,
                lead(CASE WHEN v IS NOT NULL THEN ms END IGNORE NULLS)
                  OVER w AS nms
              FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ms)
            )
            SELECT event_id, user_id,
                   round(CASE WHEN v IS NOT NULL THEN v
                         WHEN pv IS NOT NULL AND nv IS NOT NULL
                         THEN pv + (nv - pv) * (ms - pms) / (nms - pms)
                         END, 6) AS value_filled
            FROM br
        """,
        "select_clean_crop": """
            SELECT epoch_ms(ts) AS t_ms, value, event_type FROM events
            WHERE ts BETWEEN to_timestamp(1704412800000 / 1000.0)
                         AND to_timestamp(1704844800000 / 1000.0)
              AND value IS NOT NULL AND NOT isnan(value) AND value > 50
        """,
        "collapse_lineitem": """
            SELECT l_orderkey, l_linenumber,
                   round(l_quantity + l_discount + l_tax, 6) AS qdt_sum
            FROM lineitem
        """,
        "offset_rename": """
            SELECT event_id, round(value + 100.0, 6) AS value_off FROM events
        """,
        "dedup_last_per_hour": """
            SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms,
                   arg_max(event_id, event_id) AS event_id,
                   arg_max(value, event_id) AS value
            FROM events GROUP BY 1
        """,
        "merge_series": """
            SELECT epoch_ms(ts) AS t_ms,
                   max(CASE WHEN event_type = 'click' THEN value END)
                     AS click_v,
                   max(CASE WHEN event_type = 'view' THEN value END)
                     AS view_v
            FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
        """,
        "combine_sum_hourly": """
            SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms,
                   round(coalesce(sum(value), 0), 6) AS value_sum
            FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
        """,
        "take2_per_day_type": """
            SELECT event_id, event_type, epoch_ms(ts) AS t_ms
            FROM (
              SELECT event_id, event_type, ts, row_number() OVER (
                  PARTITION BY event_type, date_trunc('day', ts)
                  ORDER BY ts) AS rn
              FROM events
            ) WHERE rn <= 2
        """,
        "slice_positional": """
            SELECT event_id, epoch_ms(ts) AS t_ms
            FROM (SELECT event_id, ts,
                         row_number() OVER (ORDER BY ts) - 1 AS rn
                  FROM events)
            WHERE rn >= 100 AND rn < 110
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY 1, 2
        """,
        "orders_daily": """
            SELECT strftime(o_orderdate, '%Y-%m-%d') AS "index",
                   round(coalesce(sum(o_totalprice), 0), 2) AS total,
                   count(o_totalprice) AS n
            FROM orders GROUP BY 1
        """,
        "dedup_exact_docs": """
            SELECT md5(text) AS digest, min(doc_id) AS keep_id,
                   count(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "minhash_signature": _SHINGLES + f"""
            SELECT doc_id,
                     {_mh_sig_cols(4)}
            FROM sh GROUP BY doc_id
        """,
        "lsh_capped_pairs": _SHINGLES + f"""
            , sig AS (
              SELECT doc_id,
                     {_mh_sig_cols(8)}
              FROM sh GROUP BY doc_id
            ), bands AS (
              SELECT doc_id, unnest([
                  md5(concat_ws('|', '0', m0, m1, m2, m3)),
                  md5(concat_ws('|', '1', m4, m5, m6, m7))]) AS band
              FROM sig
            ), ranked AS (
              SELECT doc_id, band,
                     row_number() OVER (PARTITION BY band
                       ORDER BY md5(band || ':' || doc_id::VARCHAR))
                       AS rn
              FROM bands
            )
            SELECT DISTINCT id_a, id_b FROM (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM ranked a JOIN ranked b
                ON b.band = a.band AND a.rn <= 4 AND b.rn <= 4
               AND a.doc_id < b.doc_id
              UNION ALL
              SELECT least(o.doc_id, r.doc_id) AS id_a,
                     greatest(o.doc_id, r.doc_id) AS id_b
              FROM ranked o JOIN ranked r
                ON r.band = o.band AND r.rn = 1 AND o.rn > 4
            )
        """,
        "dedup_against_neardup": _SHINGLES + f"""
            , sig AS (
              SELECT doc_id,
                     {_mh_sig_cols(8)}
              FROM sh GROUP BY doc_id
            ), bands AS (
              SELECT doc_id, unnest([
                  md5(concat_ws('|', '0', m0, m1, m2, m3)),
                  md5(concat_ws('|', '1', m4, m5, m6, m7))]) AS band
              FROM sig
            ), cand AS (
              SELECT DISTINCT n.doc_id AS id_new, c.doc_id AS id_ref
              FROM bands n JOIN bands c ON n.band = c.band
              WHERE n.doc_id % 2 = 1 AND c.doc_id % 2 = 0
            ), sets AS (
              SELECT doc_id, list_distinct(list(shingle)) AS s
              FROM sh GROUP BY doc_id
            )
            SELECT p.id_new AS doc_id_new, p.id_ref AS doc_id_ref,
                   round(len(list_intersect(sn.s, sr.s))::DOUBLE
                         / len(list_distinct(sn.s || sr.s)), 6) AS jaccard
            FROM cand p
            JOIN sets sn ON sn.doc_id = p.id_new
            JOIN sets sr ON sr.doc_id = p.id_ref
            WHERE len(list_intersect(sn.s, sr.s))::DOUBLE
                  / len(list_distinct(sn.s || sr.s)) >= 0.8
        """,
        "neardup_pairs_lsh": _SHINGLES + f"""
            , sig AS (
              SELECT doc_id,
                     {_mh_sig_cols(8)}
              FROM sh GROUP BY doc_id
            ), bands AS (
              SELECT doc_id, unnest([
                  md5(concat_ws('|', '0', m0, m1, m2, m3)),
                  md5(concat_ws('|', '1', m4, m5, m6, m7))]) AS band
              FROM sig
            )
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.doc_id < b.doc_id
        """,
        "dedup_documents": _SHINGLES.replace(
            "WITH toks", "WITH RECURSIVE toks") + _dedup_comp_cte() + """
            SELECT d.doc_id,
                   coalesce(c.cluster, d.doc_id) AS cluster_id,
                   d.doc_id = coalesce(c.cluster, d.doc_id) AS is_keeper
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        """,
        "dedup_docs_longest": _SHINGLES.replace(
            "WITH toks", "WITH RECURSIVE toks") + _dedup_comp_cte() + """
            , ranked AS (
              SELECT c.cluster, c.id,
                     row_number() OVER (PARTITION BY c.cluster
                                        ORDER BY length(d2.text) DESC,
                                                 c.id ASC) AS rn
              FROM comp c JOIN documents d2 ON c.id = d2.doc_id
            ), keepers AS (
              SELECT cluster, id AS keeper_id FROM ranked WHERE rn = 1
            )
            SELECT d.doc_id,
                   coalesce(c.cluster, d.doc_id) AS cluster_id,
                   CASE WHEN c.cluster IS NULL THEN TRUE
                        ELSE d.doc_id = k.keeper_id END AS is_keeper
            FROM documents d
            LEFT JOIN comp c ON d.doc_id = c.id
            LEFT JOIN keepers k ON k.cluster = c.cluster
        """,
        "leakage_safe_splits": _SHINGLES.replace(
            "WITH toks", "WITH RECURSIVE toks") + _dedup_comp_cte() + """
            SELECT doc_id, cluster_id,
                   CASE WHEN h < 0.9 THEN 'train'
                        WHEN h < 0.95 THEN 'val'
                        ELSE 'test' END AS split
            FROM (
              SELECT d.doc_id,
                     coalesce(c.cluster, d.doc_id) AS cluster_id,
                     ('0x' || substr(md5('0|' ||
                         coalesce(c.cluster, d.doc_id)::VARCHAR), 1, 8))
                       ::BIGINT / 4294967296.0 AS h
              FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
            )
        """,
        "rrf_quality": """
            WITH ch AS (
              SELECT doc_id, unnest(string_split(text, '')) AS c
              FROM documents
            ), cnt AS (
              SELECT doc_id, c, count(*)::DOUBLE AS n
              FROM ch WHERE c <> '' GROUP BY 1, 2
            ), agg AS (
              SELECT doc_id, sum(n) AS t, sum(n * log2(n)) AS s
              FROM cnt GROUP BY 1
            ), sc AS (
              SELECT d.doc_id, d.n_chars,
                     coalesce(round(log2(a.t) - a.s / a.t, 6) + 0.0, 0.0)
                       AS ent
              FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
            ), r1 AS (
              SELECT doc_id, rank() OVER (ORDER BY n_chars DESC) AS r
              FROM sc WHERE n_chars IS NOT NULL
            ), r2 AS (
              SELECT doc_id, rank() OVER (ORDER BY ent DESC) AS r
              FROM sc WHERE ent IS NOT NULL
            )
            SELECT sc.doc_id, r1.r AS rank_len, r2.r AS rank_ent,
                   round(coalesce(1.0 / (60 + r1.r), 0.0)
                         + coalesce(1.0 / (60 + r2.r), 0.0), 6) AS rrf
            FROM sc
            LEFT JOIN r1 ON sc.doc_id = r1.doc_id
            LEFT JOIN r2 ON sc.doc_id = r2.doc_id
        """,
        "char_entropy": """
            WITH ch AS (
              SELECT doc_id, unnest(string_split(text, '')) AS c
              FROM documents
            ), cnt AS (
              SELECT doc_id, c, count(*)::DOUBLE AS n
              FROM ch WHERE c <> '' GROUP BY 1, 2
            ), agg AS (
              SELECT doc_id, sum(n) AS t, sum(n * log2(n)) AS s
              FROM cnt GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(round(log2(a.t) - a.s / a.t, 6) + 0.0, 0.0)
                     AS char_entropy
            FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        """,
        "simhash_docs": """
            -- token hash = md5's first 16 hex chars as (hi<<32 | lo); sums
            -- of +/-1 per bit; output split into unsigned 32-bit halves so
            -- the signed 64-bit representation never crosses engines.
            WITH toks AS (
              -- list_slice mirrors the engine's 2^20-token-per-doc cap
              -- (dedup._SIMHASH_MAX_TOKENS)
              SELECT doc_id,
                     unnest(list_slice(
                            list_filter(string_split_regex(trim(text),
                            '\\s+'), x -> x != ''), 1, 1048576)) AS tok
              FROM documents
            ), h AS (
              -- multiply, not <<: DuckDB runs << in signed BIGINT and
              -- overflows for hi >= 2^31; UBIGINT * stays unsigned
              SELECT doc_id,
                     ('0x' || substr(md5(tok), 1, 8))::UBIGINT * 4294967296
                     + ('0x' || substr(md5(tok), 9, 8))::UBIGINT AS h
              FROM toks
            ), bits AS (
              SELECT doc_id, g.b AS b,
                     sum(CASE WHEN ((h >> g.b) & CAST(1 AS UBIGINT)) = 1
                         THEN 1 ELSE -1 END) AS s
              FROM h CROSS JOIN generate_series(0, 63) g(b)
              GROUP BY 1, 2
            )
            SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 AND b >= 32
                        THEN CAST(1 AS BIGINT) << (b - 32) ELSE 0 END)
                        AS BIGINT) AS sim_hi,
                   CAST(sum(CASE WHEN s > 0 AND b < 32
                        THEN CAST(1 AS BIGINT) << b ELSE 0 END)
                        AS BIGINT) AS sim_lo
            FROM bits GROUP BY doc_id
        """,
        "text_quality": """
            WITH t AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x != '') AS w
              FROM documents
            )
            SELECT doc_id, length(text) AS n_chars, len(w) AS n_words,
                   len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens,
                   round(length(regexp_replace(text, '\\s+', '', 'g'))
                         / greatest(len(w), 1), 6) AS avg_word_len,
                   round(CAST(len(regexp_extract_all(text,
                         '[^A-Za-z0-9\\s]')) AS DOUBLE)
                         / greatest(length(text), 1), 6) AS punct_ratio,
                   round(CAST(len(list_filter(
                         list_transform(w, x -> regexp_replace(lower(x),
                             '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g')),
                         x -> x IN
                         ('the','a','and','of','to','in','is','it')))
                         AS DOUBLE) / greatest(len(w), 1), 6)
                     AS stopword_ratio
            FROM t
        """,
        "lang_id": """
            WITH tk AS (
              SELECT doc_id,
                     list_transform(
                       list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x != ''),
                       x -> regexp_replace(lower(x),
                           '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g')) AS mw
              FROM documents
            ), s AS (
              SELECT doc_id,
                len(list_filter(mw, x -> x IN ('the','and','of','a'))) AS s_en,
                len(list_filter(mw, x -> x IN ('der','die','und','das'))) AS s_de,
                len(list_filter(mw, x -> x IN ('le','la','et','les'))) AS s_fr,
                len(list_filter(mw, x -> x IN ('el','los','que','y'))) AS s_es
              FROM tk
            )
            SELECT doc_id,
                   CASE WHEN s_en > 0 AND s_en >= greatest(s_de, s_fr, s_es)
                          THEN 'en'
                        WHEN s_de > 0 AND s_de >= greatest(s_fr, s_es)
                          THEN 'de'
                        WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr'
                        WHEN s_es > 0 THEN 'es'
                        ELSE 'und' END AS lang_pred,
                   greatest(s_en, s_de, s_fr, s_es) AS lang_score
            FROM s
        """,
        "fingerprint_docs": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x != '') AS w
              FROM documents
            )
            SELECT doc_id,
                   list_min([md5(array_to_string(w[i:i+2], ' '))
                             for i in generate_series(1,
                                 greatest(len(w) - 2, 1))]) AS fingerprint
            FROM t
        """,
        "gopher_quality": """
            WITH t AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x != '') AS w,
                     string_split(text, chr(10)) AS ls
              FROM documents
            ), m AS (
              SELECT doc_id, len(w) AS n_words,
                length(regexp_replace(text, '\\s+', '', 'g'))
                  / greatest(len(w), 1) AS awl,
                CAST(len(regexp_extract_all(text, '#'))
                     + len(regexp_extract_all(text, '…|\\.\\.\\.'))
                     AS DOUBLE) / greatest(len(w), 1) AS symr,
                CAST(len(list_filter(w,
                     x -> regexp_matches(x, '[A-Za-z]')))
                     AS DOUBLE) / greatest(len(w), 1) AS alphaf,
                len(list_filter(list_transform(w,
                     x -> regexp_replace(lower(x),
                         '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g')),
                     x -> x IN ('the','be','to','of','and','that',
                                'have','with'))) AS stop_hits,
                CAST(len(list_filter(ls,
                     l -> regexp_matches(trim(l), '^[-*•‣▪]')))
                     AS DOUBLE) / greatest(len(ls), 1) AS bulletf,
                CAST(len(list_filter(ls,
                     l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$')))
                     AS DOUBLE) / greatest(len(ls), 1) AS ellf
              FROM t
            )
            SELECT doc_id, n_words,
                   round(awl, 6) AS avg_word_len,
                   round(symr, 6) AS symbol_ratio,
                   round(alphaf, 6) AS alpha_word_frac,
                   stop_hits AS stopword_hits,
                   round(bulletf, 6) AS bullet_line_frac,
                   round(ellf, 6) AS ellipsis_line_frac,
                   (n_words BETWEEN 50 AND 100000)
                     AND awl BETWEEN 3.0 AND 10.0
                     AND symr < 0.1 AND alphaf > 0.8
                     AND stop_hits >= 2 AND bulletf < 0.9
                     AND ellf < 0.3 AS gopher_pass
            FROM m
        """,
        "c4_stats": """
            WITH t AS (
              SELECT doc_id, text, string_split(text, chr(10)) AS ls
              FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(text, '[.!?]+(\\s|$)'))
                     AS n_sentences,
                   len(ls) AS n_lines,
                   round(CAST(len(list_filter(ls,
                       l -> len(list_filter(
                           string_split_regex(trim(l), '\\s+'),
                           x -> x != '')) < 57)) AS DOUBLE)
                       / greatest(len(ls), 1), 6) AS short_line_frac,
                   round(CAST(len(list_filter(ls,
                       l -> regexp_matches(rtrim(l), '[.!?"'']$')))
                       AS DOUBLE) / greatest(len(ls), 1), 6)
                     AS terminal_line_frac,
                   contains(text, '{') AS has_curly,
                   contains(lower(text), 'lorem ipsum') AS has_lorem,
                   contains(lower(text), 'javascript') AS has_javascript,
                   len(regexp_extract_all(text, '[.!?]+(\\s|$)')) >= 3
                     AND NOT contains(text, '{')
                     AND NOT contains(lower(text), 'lorem ipsum')
                     AND NOT contains(lower(text), 'javascript') AS c4_pass
            FROM t
        """,
        "repetition_docs": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x != '') AS w
              FROM documents
            ), g2 AS (
              SELECT doc_id,
                     unnest(list_transform(
                         range(1, greatest(len(w) - 1, 0) + 1),
                         i -> array_to_string(w[i:i+1], ' '))) AS gram
              FROM t
            ), c2 AS (
              SELECT doc_id, gram, count(*) AS cnt
              FROM g2 GROUP BY doc_id, gram
            ), a2 AS (
              SELECT doc_id,
                     1.0 - CAST(count(*) AS DOUBLE) / sum(cnt) AS dup2,
                     CAST(max(cnt) AS DOUBLE) / sum(cnt) AS top2
              FROM c2 GROUP BY doc_id
            ), g3 AS (
              SELECT doc_id,
                     unnest(list_transform(
                         range(1, greatest(len(w) - 2, 0) + 1),
                         i -> array_to_string(w[i:i+2], ' '))) AS gram
              FROM t
            ), c3 AS (
              SELECT doc_id, gram, count(*) AS cnt
              FROM g3 GROUP BY doc_id, gram
            ), a3 AS (
              SELECT doc_id,
                     1.0 - CAST(count(*) AS DOUBLE) / sum(cnt) AS dup3,
                     CAST(max(cnt) AS DOUBLE) / sum(cnt) AS top3
              FROM c3 GROUP BY doc_id
            )
            SELECT t.doc_id,
                   round(coalesce(dup2, 0.0), 6) AS dup_2gram_frac,
                   round(coalesce(top2, 0.0), 6) AS top_2gram_frac,
                   round(coalesce(dup3, 0.0), 6) AS dup_3gram_frac,
                   round(coalesce(top3, 0.0), 6) AS top_3gram_frac,
                   coalesce(dup2, 0.0) <= 0.03
                     AND coalesce(top2, 0.0) <= 0.035
                     AND coalesce(dup3, 0.0) <= 0.0
                     AND coalesce(top3, 0.0) <= 0.02 AS repetition_pass
            FROM t LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
        """,
        "decontam_normalized": """
            -- regexp_replace needs the 'g' flag in DuckDB (default
            -- replaces only the FIRST match; Spark replaces all)
            WITH nb AS (
              SELECT doc_id,
                     lower(regexp_replace(
                         upper(regexp_replace(text, ' ', ' , ', 'g'))
                           || ' !!!',
                         '[^\\p{L}\\p{N}\\s]', ' ', 'g')) AS text
              FROM documents WHERE doc_id < 25
            ), nd AS (
              SELECT doc_id,
                     lower(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', ' ',
                                          'g')) AS text
              FROM documents WHERE doc_id >= 25
            ), tb AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x != '') AS w
              FROM nb
            ), td AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x != '') AS w
              FROM nd
            ), gb AS (
              SELECT DISTINCT
                     unnest([array_to_string(w[i:i+2], ' ')
                             for i in generate_series(1,
                                 greatest(len(w) - 2, 1))]) AS gram
              FROM tb
            ), gd AS (
              SELECT doc_id,
                     unnest([array_to_string(w[i:i+2], ' ')
                             for i in generate_series(1,
                                 greatest(len(w) - 2, 1))]) AS gram
              FROM td
            ), hits AS (
              SELECT gd.doc_id,
                     count(DISTINCT gd.gram) AS contaminated_grams
              FROM gd JOIN gb USING (gram) GROUP BY gd.doc_id
            )
            SELECT d.doc_id,
                   coalesce(h.contaminated_grams, 0) AS contaminated_grams,
                   coalesce(h.contaminated_grams, 0) >= 3 AS contaminated
            FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
            WHERE d.doc_id >= 25
        """,
        "decontam_docs": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x != '') AS w
              FROM documents
            ), g AS (
              SELECT doc_id,
                     unnest([array_to_string(w[i:i+2], ' ')
                             for i in generate_series(1,
                                 greatest(len(w) - 2, 1))]) AS gram
              FROM t
            ), bench AS (
              SELECT DISTINCT gram FROM g WHERE doc_id < 25
            ), hits AS (
              SELECT g.doc_id,
                     count(DISTINCT g.gram) AS contaminated_grams
              FROM g JOIN bench USING (gram)
              WHERE g.doc_id >= 25 GROUP BY g.doc_id
            )
            SELECT d.doc_id,
                   coalesce(h.contaminated_grams, 0) AS contaminated_grams,
                   coalesce(h.contaminated_grams, 0) >= 3 AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id >= 25) d
            LEFT JOIN hits h USING (doc_id)
        """,
        "corpus_filter": """
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text FROM documents
              WHERE doc_id < 25
            ), t AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x != '') AS w,
                     string_split(text, chr(10)) AS ls
              FROM corpus
            ), gq AS (
              SELECT doc_id,
                (len(w) BETWEEN 50 AND 100000)
                AND (length(regexp_replace(text, '\\s+', '', 'g'))
                     / greatest(len(w), 1)) BETWEEN 3.0 AND 10.0
                AND (CAST(len(regexp_extract_all(text, '#'))
                     + len(regexp_extract_all(text, '…|\\.\\.\\.'))
                     AS DOUBLE) / greatest(len(w), 1)) < 0.1
                AND (CAST(len(list_filter(w,
                     x -> regexp_matches(x, '[A-Za-z]')))
                     AS DOUBLE) / greatest(len(w), 1)) > 0.8
                AND len(list_filter(list_transform(w,
                     x -> regexp_replace(lower(x),
                         '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g')),
                     x -> x IN ('the','be','to','of','and','that',
                                'have','with'))) >= 2
                AND (CAST(len(list_filter(ls,
                     l -> regexp_matches(trim(l), '^[-*•‣▪]')))
                     AS DOUBLE) / greatest(len(ls), 1)) < 0.9
                AND (CAST(len(list_filter(ls,
                     l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$')))
                     AS DOUBLE) / greatest(len(ls), 1)) < 0.3
                AS gopher_pass
              FROM t
            ), g2 AS (
              SELECT doc_id,
                     unnest(list_transform(
                         range(1, greatest(len(w) - 1, 0) + 1),
                         i -> array_to_string(w[i:i+1], ' '))) AS gram
              FROM t
            ), c2 AS (
              SELECT doc_id, gram, count(*) AS cnt
              FROM g2 GROUP BY doc_id, gram
            ), a2 AS (
              SELECT doc_id,
                     1.0 - CAST(count(*) AS DOUBLE) / sum(cnt) AS dup2,
                     CAST(max(cnt) AS DOUBLE) / sum(cnt) AS top2
              FROM c2 GROUP BY doc_id
            ), g3 AS (
              SELECT doc_id,
                     unnest(list_transform(
                         range(1, greatest(len(w) - 2, 0) + 1),
                         i -> array_to_string(w[i:i+2], ' '))) AS gram
              FROM t
            ), c3 AS (
              SELECT doc_id, gram, count(*) AS cnt
              FROM g3 GROUP BY doc_id, gram
            ), a3 AS (
              SELECT doc_id,
                     1.0 - CAST(count(*) AS DOUBLE) / sum(cnt) AS dup3,
                     CAST(max(cnt) AS DOUBLE) / sum(cnt) AS top3
              FROM c3 GROUP BY doc_id
            ), rep AS (
              SELECT t.doc_id,
                     coalesce(dup2, 0.0) <= 0.03
                       AND coalesce(top2, 0.0) <= 0.035
                       AND coalesce(dup3, 0.0) <= 0.0
                       AND coalesce(top3, 0.0) <= 0.02 AS repetition_pass
              FROM t LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
            ), canon AS (
              SELECT doc_id,
                     doc_id = min(doc_id) OVER (PARTITION BY md5(text))
                       AS is_canonical
              FROM corpus
            )
            SELECT t.doc_id, gopher_pass, repetition_pass, is_canonical,
                   gopher_pass AND repetition_pass AND is_canonical AS kept,
                   CASE WHEN NOT is_canonical THEN 'duplicate'
                        WHEN NOT gopher_pass THEN 'gopher'
                        WHEN NOT repetition_pass THEN 'repetition'
                        ELSE NULL END AS cull_reason
            FROM t
            JOIN gq USING (doc_id) JOIN rep USING (doc_id)
            JOIN canon USING (doc_id)
        """,
        "ann_topk": """
            WITH q AS (
              SELECT embedding AS e FROM embeddings WHERE vec_id = 0
            )
            SELECT vec_id, round(
                list_sum([CAST(embedding[i] AS DOUBLE) * CAST(e[i] AS DOUBLE)
                          for i in generate_series(1, len(embedding))])
                / (sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                  for x in embedding]))
                   * sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                    for x in e]))), 6) AS cosine
            FROM embeddings, q
            ORDER BY cosine DESC, vec_id LIMIT 10
        """,
        "ann_lsh": _EMB_CTE + f"""
            , b AS (
              SELECT vec_id, v, nrm,
                     {_sql_bucket("v", dp_sim._planes(_EMB_DIM, 4, 42))}
                     AS bkt
              FROM e
            ),
            q AS (SELECT v AS qv, nrm AS qn, bkt AS qb
                  FROM b WHERE vec_id = 1),
            s AS (
              SELECT b.vec_id,
                     {_sql_dot("b.v", "q.qv")} / (b.nrm * q.qn) AS c
              FROM b, q
              WHERE b.bkt = q.qb
              ORDER BY c DESC, b.vec_id
              LIMIT 10
            )
            SELECT vec_id, round(c, 6) AS cosine FROM s
        """,
        "cluster_sample": _EMB_CTE + f"""
            , c0 AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS c
              FROM e ORDER BY vec_id LIMIT 8
            ),
            a1 AS {_ivf_assign_cte("c0")},
            c1 AS {_ivf_means_cte("a1", "c0")},
            a2 AS {_ivf_assign_cte("c1")},
            c2 AS {_ivf_means_cte("a2", "c1")},
            af AS {_ivf_assign_cte("c2")},
            r AS (
              SELECT vec_id, CAST(cell AS BIGINT) AS cell,
                     row_number() OVER (PARTITION BY cell
                        ORDER BY ('0x' || substr(md5('0|' ||
                                  vec_id::VARCHAR), 1, 8))::BIGINT,
                                 vec_id) AS rank_in_cell
              FROM af
            )
            SELECT vec_id, cell, CAST(rank_in_cell AS BIGINT)
                     AS rank_in_cell
            FROM r WHERE rank_in_cell <= 40
        """,
        "hard_negatives": _EMB_CTE + f"""
            , c0 AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS c
              FROM e ORDER BY vec_id LIMIT 8
            ),
            a1 AS {_ivf_assign_cte("c0")},
            c1 AS {_ivf_means_cte("a1", "c0")},
            a2 AS {_ivf_assign_cte("c1")},
            c2 AS {_ivf_means_cte("a2", "c1")},
            af AS {_ivf_assign_cte("c2")},
            lbl AS (SELECT vec_id, label FROM embeddings),
            p AS (
              SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
                     round({_sql_dot("a.v", "b.v")} / (a.nrm * b.nrm), 6)
                       AS cosine
              FROM af a JOIN af b ON a.cell = b.cell
              JOIN lbl la ON la.vec_id = a.vec_id
              JOIN lbl lb ON lb.vec_id = b.vec_id
              WHERE la.label != lb.label
            )
            SELECT anchor_id, neg_id, cosine, neg_rank FROM (
              SELECT p.*, row_number() OVER (
                  PARTITION BY anchor_id
                  ORDER BY cosine DESC, neg_id) AS neg_rank
              FROM p
            ) WHERE neg_rank <= 2
        """,
        "ann_recall": _EMB_CTE + f"""
            , c0 AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS c
              FROM e ORDER BY vec_id LIMIT 8
            ),
            a1 AS {_ivf_assign_cte("c0")},
            c1 AS {_ivf_means_cte("a1", "c0")},
            a2 AS {_ivf_assign_cte("c1")},
            c2 AS {_ivf_means_cte("a2", "c1")},
            qs AS (
              SELECT vec_id AS q_id, v AS qv, nrm AS qn
              FROM e WHERE vec_id < 8
            ),
            ex AS (
              SELECT qs.q_id, e.vec_id
              FROM e CROSS JOIN qs
              QUALIFY row_number() OVER (PARTITION BY qs.q_id
                ORDER BY round({_sql_dot("e.v", "qs.qv")}
                               / (e.nrm * qs.qn), 6) DESC,
                         e.vec_id) <= 10
            ),
            probes AS (
              SELECT qs.q_id, qs.qv, qs.qn, c2.cell
              FROM qs CROSS JOIN c2
              QUALIFY row_number() OVER (PARTITION BY qs.q_id
                ORDER BY coalesce({_sql_dot("c2.c", "qs.qv")}
                         / (sqrt(list_sum([x * x for x in c2.c]))
                            * qs.qn), -2.0) DESC,
                         c2.cell DESC) <= 2
            ),
            af AS {_ivf_assign_cte("c2")},
            ap AS (
              SELECT p.q_id, af.vec_id
              FROM af JOIN probes p ON af.cell = p.cell
              QUALIFY row_number() OVER (PARTITION BY p.q_id
                ORDER BY round({_sql_dot("af.v", "p.qv")}
                               / (af.nrm * p.qn), 6) DESC,
                         af.vec_id) <= 10
            ),
            m AS (
              SELECT ex.q_id, count(*) AS n_match
              FROM ex JOIN ap
                ON ex.q_id = ap.q_id AND ex.vec_id = ap.vec_id
              GROUP BY ex.q_id
            )
            SELECT qs.q_id, coalesce(m.n_match, 0) AS n_match,
                   round(coalesce(m.n_match, 0) / 10, 6) AS recall
            FROM qs LEFT JOIN m USING (q_id)
        """,
        "ann_ivf": _EMB_CTE + f"""
            , c0 AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS c
              FROM e ORDER BY vec_id LIMIT 8
            ),
            a1 AS {_ivf_assign_cte("c0")},
            c1 AS {_ivf_means_cte("a1", "c0")},
            a2 AS {_ivf_assign_cte("c1")},
            c2 AS {_ivf_means_cte("a2", "c1")},
            q AS (SELECT v AS qv, nrm AS qn FROM e WHERE vec_id = 1),
            probes AS (
              SELECT c2.cell
              FROM c2, q
              ORDER BY coalesce({_sql_dot("c2.c", "q.qv")}
                       / (sqrt(list_sum([x * x for x in c2.c])) * q.qn),
                       -2.0) DESC,
                       c2.cell DESC
              LIMIT 2
            ),
            af AS {_ivf_assign_cte("c2")},
            s AS (
              SELECT af.vec_id,
                     {_sql_dot("af.v", "q.qv")} / (af.nrm * q.qn) AS c
              FROM af, q
              WHERE af.cell IN (SELECT cell FROM probes)
              ORDER BY c DESC, af.vec_id
              LIMIT 10
            )
            SELECT vec_id, round(c, 6) AS cosine FROM s
        """,
        "embedding_near_dups_lsh": _EMB_CTE + f"""
            , b AS (
              SELECT vec_id, v, nrm,
                     {_sql_bucket("v", dp_sim._planes(_EMB_DIM, 4, 42))}
                     AS bkt
              FROM e
            )
            SELECT id_a, id_b, round(c, 6) AS cosine FROM (
              SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
                     {_sql_dot("a.v", "b2.v")} / (a.nrm * b2.nrm) AS c
              FROM b a JOIN b b2
                ON a.bkt = b2.bkt AND a.vec_id < b2.vec_id
            ) WHERE c >= 0.4
        """,
        "bpe_tokenize": _bpe_apply_sql(_BPE_MERGES),
        "bpe_train_merges": _bpe_train_sql(6),
        "jl_projection": f"""
            SELECT vec_id,
                   {_jl_select_sql(64, 16, 0)}
            FROM embeddings
        """,
        "embedding_sign_sketch": f"""
            SELECT vec_id,
                   CAST({_sign_sketch_sql(0)} AS BIGINT) AS sk0,
                   CAST({_sign_sketch_sql(1)} AS BIGINT) AS sk1
            FROM embeddings
        """,
        "embedding_hamming_dups": f"""
            WITH planted AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + 100000,
                     list_concat([-embedding[1], -embedding[2]],
                                 embedding[3:64])
              FROM embeddings WHERE vec_id < 50
            ), sk AS (
              SELECT vec_id,
                     CAST({_sign_sketch_sql(0)} AS BIGINT) AS sk0,
                     CAST({_sign_sketch_sql(1)} AS BIGINT) AS sk1
              FROM planted
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   bit_count(xor(a.sk0, b.sk0))
                   + bit_count(xor(a.sk1, b.sk1)) AS hamming
            FROM sk a JOIN sk b ON a.vec_id < b.vec_id
            WHERE bit_count(xor(a.sk0, b.sk0))
                  + bit_count(xor(a.sk1, b.sk1)) <= 3
        """,
        "embedding_near_dups": """
            WITH n AS (
              SELECT vec_id, embedding,
                     sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                    for x in embedding])) AS nrm
              FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_sum([CAST(a.embedding[i] AS DOUBLE)
                                   * CAST(b.embedding[i] AS DOUBLE)
                                   for i in generate_series(1,
                                       len(a.embedding))])
                         / (a.nrm * b.nrm), 6) AS cosine
            FROM n a JOIN n b ON a.vec_id < b.vec_id
            WHERE list_sum([CAST(a.embedding[i] AS DOUBLE)
                            * CAST(b.embedding[i] AS DOUBLE)
                            for i in generate_series(1, len(a.embedding))])
                  / (a.nrm * b.nrm) >= 0.4
        """,
        "multimodal_features": """
            SELECT doc_id AS media_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   md5(text) AS digest
            FROM documents
        """,

        "image_phash_jpeg": """
            -- block value b_i (8x8 block i, row-major, of the 32x32
            -- grayscale JPEG) = byte i of md5(text || '&j'); all-ones
            -- quant table makes the DC-only decode EXACT, so decoded
            -- gray(cell) = 3 * 64 * b_i and every comparison reduces
            -- to the block values (equal areas cancel): aHash bit i =
            -- 16*b_i > sum(b); dHash bit = b > right neighbor
            WITH v AS (
              SELECT doc_id, g.i AS i,
                     ('0x' || substr(md5(text || '&j'),
                                     2 * g.i + 1, 2))::BIGINT AS b
              FROM documents CROSS JOIN generate_series(0, 15) g(i)
            ), tot AS (
              SELECT doc_id, CAST(sum(b) AS BIGINT) AS ts
              FROM v GROUP BY 1
            ), ah AS (
              SELECT v.doc_id AS doc_id,
                     CAST(sum(CASE WHEN 16 * v.b > t.ts
                          THEN (CAST(1 AS BIGINT) << v.i)
                          ELSE 0 END) AS BIGINT) AS ahash
              FROM v JOIN tot t USING (doc_id) GROUP BY 1
            ), dh AS (
              SELECT a.doc_id AS doc_id,
                     CAST(coalesce(sum(CASE WHEN a.b > c.b
                          THEN (CAST(1 AS BIGINT)
                                << ((a.i // 4) * 3 + (a.i % 4)))
                          ELSE 0 END), 0) AS BIGINT) AS dhash
              FROM v a JOIN v c
                ON c.doc_id = a.doc_id AND c.i = a.i + 1
               AND a.i % 4 < 3
              GROUP BY 1
            )
            SELECT ah.doc_id AS media_id, 32 AS width, 32 AS height,
                   ah.ahash AS ahash, dh.dhash AS dhash
            FROM ah JOIN dh ON dh.doc_id = ah.doc_id
        """,
        "image_phash_jpeg_multiscan": """
            -- same digest-replay shape as image_phash_jpeg (salt
            -- '&jms'): gray-valued RGB keeps YCbCr exact, so the
            -- per-component multi-scan stream decodes to (v,v,v)
            WITH v AS (
              SELECT doc_id, g.i AS i,
                     ('0x' || substr(md5(text || '&jms'),
                                     2 * g.i + 1, 2))::BIGINT AS b
              FROM documents CROSS JOIN generate_series(0, 15) g(i)
            ), tot AS (
              SELECT doc_id, CAST(sum(b) AS BIGINT) AS ts
              FROM v GROUP BY 1
            ), ah AS (
              SELECT v.doc_id AS doc_id,
                     CAST(sum(CASE WHEN 16 * v.b > t.ts
                          THEN (CAST(1 AS BIGINT) << v.i)
                          ELSE 0 END) AS BIGINT) AS ahash
              FROM v JOIN tot t USING (doc_id) GROUP BY 1
            ), dh AS (
              SELECT a.doc_id AS doc_id,
                     CAST(coalesce(sum(CASE WHEN a.b > c.b
                          THEN (CAST(1 AS BIGINT)
                                << ((a.i // 4) * 3 + (a.i % 4)))
                          ELSE 0 END), 0) AS BIGINT) AS dhash
              FROM v a JOIN v c
                ON c.doc_id = a.doc_id AND c.i = a.i + 1
               AND a.i % 4 < 3
              GROUP BY 1
            )
            SELECT ah.doc_id AS media_id, 32 AS width, 32 AS height,
                   ah.ahash AS ahash, dh.dhash AS dhash
            FROM ah JOIN dh ON dh.doc_id = ah.doc_id
        """,
        "image_phash_jpeg_progressive": """
            -- identical oracle shape to image_phash_jpeg (salt '&jp'):
            -- the PROGRESSIVE stream carries the same DC-only
            -- coefficients, so decoded pixels replay from the digest
            WITH v AS (
              SELECT doc_id, g.i AS i,
                     ('0x' || substr(md5(text || '&jp'),
                                     2 * g.i + 1, 2))::BIGINT AS b
              FROM documents CROSS JOIN generate_series(0, 15) g(i)
            ), tot AS (
              SELECT doc_id, CAST(sum(b) AS BIGINT) AS ts
              FROM v GROUP BY 1
            ), ah AS (
              SELECT v.doc_id AS doc_id,
                     CAST(sum(CASE WHEN 16 * v.b > t.ts
                          THEN (CAST(1 AS BIGINT) << v.i)
                          ELSE 0 END) AS BIGINT) AS ahash
              FROM v JOIN tot t USING (doc_id) GROUP BY 1
            ), dh AS (
              SELECT a.doc_id AS doc_id,
                     CAST(coalesce(sum(CASE WHEN a.b > c.b
                          THEN (CAST(1 AS BIGINT)
                                << ((a.i // 4) * 3 + (a.i % 4)))
                          ELSE 0 END), 0) AS BIGINT) AS dhash
              FROM v a JOIN v c
                ON c.doc_id = a.doc_id AND c.i = a.i + 1
               AND a.i % 4 < 3
              GROUP BY 1
            )
            SELECT ah.doc_id AS media_id, 32 AS width, 32 AS height,
                   ah.ahash AS ahash, dh.dhash AS dhash
            FROM ah JOIN dh ON dh.doc_id = ah.doc_id
        """,
        "image_phash": """
            -- pixel byte jb of the 8x8 synthetic PPM comes from digest
            -- jb//16 = md5(text || '#' || d), hex offset jb%16; gray =
            -- r+g+b; 4x4 box cells; all comparisons integer cross-
            -- multiplied by areas exactly as _phash_of does
            WITH px AS (
              SELECT doc_id, g.p AS p,
                ('0x' || substr(md5(text || '#' ||
                   CAST((3 * g.p) // 16 AS VARCHAR)),
                   2 * ((3 * g.p) % 16) + 1, 2))::BIGINT
              + ('0x' || substr(md5(text || '#' ||
                   CAST((3 * g.p + 1) // 16 AS VARCHAR)),
                   2 * ((3 * g.p + 1) % 16) + 1, 2))::BIGINT
              + ('0x' || substr(md5(text || '#' ||
                   CAST((3 * g.p + 2) // 16 AS VARCHAR)),
                   2 * ((3 * g.p + 2) % 16) + 1, 2))::BIGINT AS gray
              FROM documents CROSS JOIN generate_series(0, 63) g(p)
            ), cells AS (
              SELECT doc_id, (p % 8) // 2 AS xc, (p // 8) // 2 AS yc,
                     CAST(sum(gray) AS BIGINT) AS cs
              FROM px GROUP BY 1, 2, 3
            ), tot AS (
              SELECT doc_id, CAST(sum(cs) AS BIGINT) AS ts
              FROM cells GROUP BY 1
            ), ah AS (
              SELECT c.doc_id AS doc_id,
                     CAST(sum(CASE WHEN c.cs * 64 > t.ts * 4
                          THEN (CAST(1 AS BIGINT) << (c.yc * 4 + c.xc))
                          ELSE 0 END) AS BIGINT) AS ahash
              FROM cells c JOIN tot t USING (doc_id) GROUP BY 1
            ), dh AS (
              SELECT a.doc_id AS doc_id,
                     CAST(coalesce(sum(CASE WHEN a.cs * 4 > b.cs * 4
                          THEN (CAST(1 AS BIGINT) << (a.yc * 3 + a.xc))
                          ELSE 0 END), 0) AS BIGINT) AS dhash
              FROM cells a JOIN cells b
                ON b.doc_id = a.doc_id AND b.yc = a.yc
               AND b.xc = a.xc + 1
              GROUP BY 1
            )
            SELECT ah.doc_id AS media_id, 8 AS width, 8 AS height,
                   ah.ahash AS ahash, dh.dhash AS dhash
            FROM ah JOIN dh ON dh.doc_id = ah.doc_id
        """,
        "multimodal_decode_image": """
            -- mirror of the synthesized 2x2 PPM: pixel byte j is md5 hex
            -- chars (2j+1, 2); channel = j mod 3; mean = sum over 4 px / 4
            WITH px AS (
              SELECT doc_id, g.i AS i,
                     ('0x' || substr(md5(text), 2 * g.i + 1, 2))::BIGINT AS b
              FROM documents CROSS JOIN generate_series(0, 11) g(i)
            )
            SELECT doc_id AS media_id,
                   CAST(2 AS BIGINT) AS width, CAST(2 AS BIGINT) AS height,
                   sum(CASE WHEN i % 3 = 0 THEN b ELSE 0 END) / 4.0 AS mean_r,
                   sum(CASE WHEN i % 3 = 1 THEN b ELSE 0 END) / 4.0 AS mean_g,
                   sum(CASE WHEN i % 3 = 2 THEN b ELSE 0 END) / 4.0 AS mean_b
            FROM px GROUP BY doc_id
        """,

        "audio_fingerprint": """
            -- sample i of the 128-sample clip: little-endian int16 from
            -- bytes (2i, 2i+1) of md5(text || '~' || (2i)//16) hex;
            -- frame f energy = exact sum(v^2) over samples 8f..8f+7
            WITH s AS (
              SELECT doc_id, i,
                     CASE WHEN raw > 32767 THEN raw - 65536
                          ELSE raw END AS v
              FROM (
                SELECT doc_id, g.i AS i,
                       ('0x' || substr(md5(text || '~' ||
                          CAST((2 * g.i + 1) // 16 AS VARCHAR)),
                          2 * ((2 * g.i + 1) % 16) + 1, 2))::BIGINT
                       * 256
                     + ('0x' || substr(md5(text || '~' ||
                          CAST((2 * g.i) // 16 AS VARCHAR)),
                          2 * ((2 * g.i) % 16) + 1, 2))::BIGINT AS raw
                FROM documents CROSS JOIN generate_series(0, 127) g(i)
              )
            ), e AS (
              SELECT doc_id, i // 8 AS f,
                     CAST(sum(v * v) AS BIGINT) AS en
              FROM s GROUP BY 1, 2
            )
            SELECT a.doc_id AS media_id,
                   CAST(16 AS INT) AS n_frames,
                   CAST(coalesce(sum(CASE WHEN b.en > a.en
                        THEN (CAST(1 AS BIGINT) << (b.f - 1))
                        ELSE 0 END), 0) AS BIGINT) AS fingerprint
            FROM e a JOIN e b
              ON b.doc_id = a.doc_id AND b.f = a.f + 1
            GROUP BY 1
        """,



        "stream_xchart": """
            -- per-event zone rules over (ts, event_id)-ordered valid
            -- values; micro-unit deviations vs target 50 / sigma 60
            WITH z AS (
              SELECT user_id, epoch_ms(ts) AS t_ms,
                     CAST(round(round(value, 6) * 1000000.0) AS BIGINT)
                       AS m,
                     CAST(round(round(value, 6) * 1000000.0) AS BIGINT)
                       - 50000000 AS d,
                     row_number() OVER wo AS rn,
                     sum(CASE WHEN CAST(round(round(value, 6)
                         * 1000000.0) AS BIGINT) - 50000000 > 120000000
                         THEN 1 ELSE 0 END) OVER w3 AS h2c,
                     sum(CASE WHEN CAST(round(round(value, 6)
                         * 1000000.0) AS BIGINT) - 50000000 > 60000000
                         THEN 1 ELSE 0 END) OVER w5 AS h1c,
                     sum(CASE WHEN CAST(round(round(value, 6)
                         * 1000000.0) AS BIGINT) - 50000000 > 0
                         THEN 1 ELSE 0 END) OVER w8 AS h0c,
                     sum(CASE WHEN 50000000 - CAST(round(round(value, 6)
                         * 1000000.0) AS BIGINT) > 120000000
                         THEN 1 ELSE 0 END) OVER w3 AS l2c,
                     sum(CASE WHEN 50000000 - CAST(round(round(value, 6)
                         * 1000000.0) AS BIGINT) > 60000000
                         THEN 1 ELSE 0 END) OVER w5 AS l1c,
                     sum(CASE WHEN 50000000 - CAST(round(round(value, 6)
                         * 1000000.0) AS BIGINT) > 0
                         THEN 1 ELSE 0 END) OVER w8 AS l0c
              FROM events WHERE value IS NOT NULL
              WINDOW wo AS (PARTITION BY user_id
                            ORDER BY ts, event_id),
                     w3 AS (PARTITION BY user_id
                            ORDER BY ts, event_id
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                     w5 AS (PARTITION BY user_id
                            ORDER BY ts, event_id
                            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
                     w8 AS (PARTITION BY user_id
                            ORDER BY ts, event_id
                            ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
            ), fired AS (
              SELECT user_id, t_ms, 'R1' AS rule, 'high' AS side, m
              FROM z WHERE d > 180000000
              UNION ALL
              SELECT user_id, t_ms, 'R2', 'high', m FROM z
              WHERE h2c >= 2 AND d > 120000000
              UNION ALL
              SELECT user_id, t_ms, 'R3', 'high', m FROM z
              WHERE h1c >= 4 AND d > 60000000
              UNION ALL
              SELECT user_id, t_ms, 'R4', 'high', m FROM z
              WHERE h0c >= 8 AND rn >= 8
              UNION ALL
              SELECT user_id, t_ms, 'R1', 'low', m FROM z
              WHERE -d > 180000000
              UNION ALL
              SELECT user_id, t_ms, 'R2', 'low', m FROM z
              WHERE l2c >= 2 AND -d > 120000000
              UNION ALL
              SELECT user_id, t_ms, 'R3', 'low', m FROM z
              WHERE l1c >= 4 AND -d > 60000000
              UNION ALL
              SELECT user_id, t_ms, 'R4', 'low', m FROM z
              WHERE l0c >= 8 AND rn >= 8
            )
            SELECT user_id, t_ms, rule, side,
                   round(m / 1000000.0, 6) AS value
            FROM fired
        """,
        "control_chart": """
            -- integer bucket means (recipe #5), then the four zone
            -- rules as the same count-over-window tests, both sides
            WITH bf AS (
              SELECT user_id, p,
                     CASE WHEN S >= 0 THEN (2 * S + C) // (2 * C)
                          ELSE -((-2 * S + C) // (2 * C)) END AS m
              FROM (
                SELECT user_id,
                       CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT)
                         AS p,
                       CAST(sum(CAST(round(round(value, 6) * 1000000.0)
                            AS BIGINT)) AS BIGINT) AS S,
                       count(value) AS C
                FROM events GROUP BY 1, 2
              ) WHERE C > 0
            ), z AS (
              SELECT user_id, p, m, m - 50000000 AS d,
                     sum(CASE WHEN m - 50000000 > 50000000
                         THEN 1 ELSE 0 END) OVER w3 AS h2c,
                     sum(CASE WHEN m - 50000000 > 25000000
                         THEN 1 ELSE 0 END) OVER w5 AS h1c,
                     sum(CASE WHEN m - 50000000 > 0
                         THEN 1 ELSE 0 END) OVER w8 AS h0c,
                     sum(CASE WHEN 50000000 - m > 50000000
                         THEN 1 ELSE 0 END) OVER w3 AS l2c,
                     sum(CASE WHEN 50000000 - m > 25000000
                         THEN 1 ELSE 0 END) OVER w5 AS l1c,
                     sum(CASE WHEN 50000000 - m > 0
                         THEN 1 ELSE 0 END) OVER w8 AS l0c
              FROM bf
              WINDOW w3 AS (PARTITION BY user_id ORDER BY p
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                     w5 AS (PARTITION BY user_id ORDER BY p
                            ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
                     w8 AS (PARTITION BY user_id ORDER BY p
                            ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
            ), fired AS (
              SELECT user_id, p, m, 'R1' AS rule, 'high' AS side
              FROM z WHERE d > 75000000
              UNION ALL
              SELECT user_id, p, m, 'R2', 'high' FROM z
              WHERE h2c >= 2 AND d > 50000000
              UNION ALL
              SELECT user_id, p, m, 'R3', 'high' FROM z
              WHERE h1c >= 4 AND d > 25000000
              UNION ALL
              SELECT user_id, p, m, 'R4', 'high' FROM z WHERE h0c >= 8
              UNION ALL
              SELECT user_id, p, m, 'R1', 'low' FROM z
              WHERE -d > 75000000
              UNION ALL
              SELECT user_id, p, m, 'R2', 'low' FROM z
              WHERE l2c >= 2 AND -d > 50000000
              UNION ALL
              SELECT user_id, p, m, 'R3', 'low' FROM z
              WHERE l1c >= 4 AND -d > 25000000
              UNION ALL
              SELECT user_id, p, m, 'R4', 'low' FROM z WHERE l0c >= 8
            )
            SELECT user_id, p * 3600000 AS t_ms, rule, side,
                   round(m / 1000000.0, 6) AS mean
            FROM fired
        """,
        "k_anonymity": """
            SELECT user_id, event_type,
                   count(*) AS group_size,
                   count(DISTINCT CAST(
                     (epoch_ms(ts) // 3600000) % 24 AS INT))
                     AS l_diversity,
                   count(*) < 5 AS at_risk,
                   count(DISTINCT CAST(
                     (epoch_ms(ts) // 3600000) % 24 AS INT)) < 2
                     AS l_at_risk
            FROM events GROUP BY 1, 2
        """,
        "multimodal_decode_audio": """
            -- little-endian PCM16: sample i = bytes (2i, 2i+1) of the md5
            -- digest, sign-corrected; peak/RMS over the 6 samples
            WITH s AS (
              SELECT doc_id,
                     CASE WHEN raw > 32767 THEN raw - 65536 ELSE raw END AS v
              FROM (
                SELECT doc_id,
                       ('0x' || substr(md5(text), 4 * g.i + 3, 2))::BIGINT
                       * 256
                       + ('0x' || substr(md5(text), 4 * g.i + 1, 2))::BIGINT
                       AS raw
                FROM documents CROSS JOIN generate_series(0, 5) g(i)
              )
            )
            SELECT doc_id AS media_id,
                   CAST(1 AS BIGINT) AS n_channels,
                   CAST(8000 AS BIGINT) AS sample_rate,
                   CAST(6 AS BIGINT) AS n_samples,
                   max(abs(v)) AS peak,
                   round(sqrt(sum(v * v) / 6.0), 6) AS rms
            FROM s GROUP BY doc_id
        """,
        "pii_redact": f"""
            WITH s AS (
              SELECT doc_id, text ||
                CASE WHEN doc_id % 3 = 0 THEN ' contact user'
                     || doc_id::VARCHAR || '@example.com' ELSE '' END ||
                CASE WHEN doc_id % 5 = 0
                     THEN ' call 555-123-4567' ELSE '' END ||
                CASE WHEN doc_id % 7 = 0 THEN ' host 10.0.'
                     || (doc_id % 256)::VARCHAR || '.1' ELSE '' END AS text
              FROM documents
            )
            SELECT doc_id,
                   md5(regexp_replace(regexp_replace(regexp_replace(
                       regexp_replace(text,
                         '{dp_priv.PII_PATTERNS["email"]}', '<email>', 'g'),
                         '{dp_priv.PII_PATTERNS["ipv4"]}', '<ipv4>', 'g'),
                         '{dp_priv.PII_PATTERNS["ssn"]}', '<ssn>', 'g'),
                         '{dp_priv.PII_PATTERNS["phone"]}', '<phone>', 'g'))
                     AS redacted_md5,
                   len(regexp_extract_all(text,
                       '{dp_priv.PII_PATTERNS["email"]}')) AS n_email,
                   len(regexp_extract_all(text,
                       '{dp_priv.PII_PATTERNS["ipv4"]}')) AS n_ipv4,
                   len(regexp_extract_all(text,
                       '{dp_priv.PII_PATTERNS["ssn"]}')) AS n_ssn,
                   len(regexp_extract_all(text,
                       '{dp_priv.PII_PATTERNS["phone"]}')) AS n_phone,
                   (len(regexp_extract_all(text,
                        '{dp_priv.PII_PATTERNS["email"]}')) > 0
                    OR len(regexp_extract_all(text,
                        '{dp_priv.PII_PATTERNS["ipv4"]}')) > 0
                    OR len(regexp_extract_all(text,
                        '{dp_priv.PII_PATTERNS["ssn"]}')) > 0
                    OR len(regexp_extract_all(text,
                        '{dp_priv.PII_PATTERNS["phone"]}')) > 0) AS has_pii
            FROM s
        """,
        "sample_stratified": """
            SELECT doc_id, lang FROM documents
            WHERE ('0x' || substr(md5('42|' || doc_id::VARCHAR), 1, 8))
                      ::BIGINT / 4294967296.0
                  < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
                              WHEN 'zh' THEN 0.25 ELSE 0.0 END
        """,
        "dsir_weights": """
            WITH arr AS (
              SELECT doc_id, source,
                     list_filter(list_transform(
                         list_filter(string_split_regex(trim(text),
                                                        '\\s+'),
                                     x -> x != ''),
                         x -> regexp_replace(lower(x),
                             '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g')),
                       x -> x != '') AS a
              FROM documents
            ), grams AS (
              SELECT doc_id, source, unnest(list_concat(a,
                       CASE WHEN len(a) >= 2
                            THEN list_transform(
                                generate_series(1, len(a) - 1),
                                i -> a[i] || ' ' || a[i + 1])
                            ELSE [] END)) AS g
              FROM arr
            ), bk AS (
              SELECT doc_id, source,
                     ('0x' || substr(md5(g), 1, 8))::BIGINT % 4096 AS b
              FROM grams
            ), tc AS (
              SELECT b, count(*) AS ct FROM bk
              WHERE source = 'src0' GROUP BY b
            ), rc AS (
              SELECT b, count(*) AS cr FROM bk GROUP BY b
            ), nt AS (
              SELECT count(*) AS n FROM bk WHERE source = 'src0'
            ), nr AS (
              SELECT count(*) AS n FROM bk
            ), ratio AS (
              SELECT rc.b,
                     CAST(round((ln((COALESCE(tc.ct, 0) + 1.0)
                                    / (nt.n + 1.0 * 4096))
                               - ln((rc.cr + 1.0) / (nr.n + 1.0 * 4096)))
                                * 1000000.0) AS BIGINT) AS lr_micro
              FROM rc LEFT JOIN tc USING (b)
              CROSS JOIN nt CROSS JOIN nr
            )
            SELECT bk.doc_id, count(*) AS n_grams,
                   CAST(sum(ratio.lr_micro) AS BIGINT) / 1000000.0
                     AS log_weight
            FROM bk JOIN ratio ON bk.b = ratio.b
            GROUP BY bk.doc_id
        """,
        "cms_audit": """
            WITH arr AS (
              SELECT doc_id,
                     list_filter(list_transform(
                         list_filter(string_split_regex(trim(text),
                                                        '\\s+'),
                                     x -> x != ''),
                         x -> regexp_replace(lower(x),
                             '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g')),
                       x -> x != '') AS a
              FROM documents
            ), tok AS (
              SELECT unnest(a) AS t FROM arr
            ), rows AS (
              SELECT unnest([0, 1, 2]) AS row
            ), cells AS (
              SELECT rows.row,
                     ('0x' || substr(md5(rows.row::VARCHAR || '|' || t),
                                     1, 8))::BIGINT % 8 AS bucket
              FROM tok CROSS JOIN rows
            ), sk AS (
              SELECT row, bucket, count(*) AS cnt
              FROM cells GROUP BY row, bucket
            ), exact AS (
              SELECT t, count(*) AS exact FROM tok GROUP BY t
            ), probes AS (
              SELECT e.t, e.exact, rows.row,
                     ('0x' || substr(md5(rows.row::VARCHAR || '|' || e.t),
                                     1, 8))::BIGINT % 8 AS bucket
              FROM exact e CROSS JOIN rows
            )
            SELECT p.t AS token, p.exact AS exact, min(sk.cnt) AS cms_est,
                   min(sk.cnt) - p.exact AS overestimate
            FROM probes p JOIN sk USING (row, bucket)
            GROUP BY p.t, p.exact
        """,
        "bloom_membership": """
            -- Bloom semantics replayed as a SET of bit positions: the
            -- impl packs bits into 32-bit words, the oracle keeps the
            -- positions relational -- identical membership math.
            WITH keyed AS (
              SELECT doc_id, md5(substr(text, 1, 40)) AS digest
              FROM documents
            ), seen AS (
              SELECT * FROM keyed WHERE doc_id % 2 = 0
            ), batch AS (
              SELECT * FROM keyed WHERE doc_id % 2 = 1
            ), hs AS (
              SELECT unnest([0, 1, 2]) AS h
            ), bloom AS (
              SELECT DISTINCT
                     ('0x' || substr(md5(hs.h::VARCHAR || '|' || digest),
                                     1, 8))::BIGINT % 256 AS b
              FROM seen CROSS JOIN hs
            ), probe AS (
              SELECT doc_id, digest,
                     ('0x' || substr(md5(hs.h::VARCHAR || '|' || digest),
                                     1, 8))::BIGINT % 256 AS b
              FROM batch CROSS JOIN hs
            ), verdict AS (
              SELECT p.doc_id, p.digest,
                     min(CASE WHEN bloom.b IS NULL THEN 0 ELSE 1 END) = 1
                       AS maybe_seen
              FROM probe p LEFT JOIN bloom USING (b)
              GROUP BY p.doc_id, p.digest
            )
            SELECT v.doc_id, v.maybe_seen,
                   v.digest IN (SELECT digest FROM seen) AS actually_seen
            FROM verdict v
        """,
        "hll_distinct": _hll_oracle(),
        "dtw_daily_template": _dtw_oracle(),
        "cusum_hourly_by_user": _cusum_oracle(),
        "pca_embeddings": _pca_oracle(),




        "blocklist_stats": """
            WITH c AS (
              SELECT doc_id,
                     len(regexp_extract_all(lower(text),
                         '\\bclick here\\b')) AS c0,
                     len(regexp_extract_all(lower(text),
                         '\\bbuy now\\b')) AS c1,
                     len(regexp_extract_all(lower(text),
                         '\\bfree trial\\b')) AS c2,
                     len(regexp_extract_all(lower(text),
                         '\\btable scan\\b')) AS c3,
                     len(regexp_extract_all(lower(text),
                         '\\bhash join\\b')) AS c4,
                     len(regexp_extract_all(lower(text),
                         '\\bkey value\\b')) AS c5
              FROM documents
            )
            SELECT doc_id,
                   c0 + c1 + c2 + c3 + c4 + c5 AS n_hits,
                   (c0 > 0)::INT + (c1 > 0)::INT + (c2 > 0)::INT
                 + (c3 > 0)::INT + (c4 > 0)::INT + (c5 > 0)::INT
                     AS n_phrases_hit,
                   c0 + c1 + c2 + c3 + c4 + c5 >= 2 AS flagged
            FROM c
        """,
        "script_stats": """
            WITH s AS (
              SELECT doc_id, text ||
                CASE WHEN doc_id % 7 = 0
                     THEN ' привет мир' ELSE '' END ||
                CASE WHEN doc_id % 11 = 0
                     THEN ' 漢字文字' ELSE '' END AS t
              FROM documents
            ), c AS (
              SELECT doc_id,
                     length(regexp_replace(t, '\\s+', '', 'g'))
                       AS n_chars,
                     len(regexp_extract_all(t, '[A-Za-z]')) AS n_latin,
                     len(regexp_extract_all(t, '[0-9]')) AS n_digit,
                     len(regexp_extract_all(t, '[Ѐ-ӿ]'))
                       AS n_cyrillic,
                     len(regexp_extract_all(t, '[一-鿿]')) AS n_cjk
              FROM s
            )
            SELECT doc_id, n_chars, n_latin, n_digit, n_cyrillic,
                   n_cjk,
                   n_chars - n_latin - n_digit - n_cyrillic - n_cjk
                     AS n_other,
                   round(n_latin / greatest(n_chars, 1), 6)
                     AS latin_ratio,
                   round(n_cyrillic / greatest(n_chars, 1), 6)
                     AS cyrillic_ratio,
                   round(n_cjk / greatest(n_chars, 1), 6) AS cjk_ratio
            FROM c
        """,
        "ngram_novelty": _SHINGLES + """
            , pairs AS (
              SELECT DISTINCT doc_id, shingle FROM sh
            ), first AS (
              SELECT shingle, min(doc_id) AS f FROM pairs GROUP BY 1
            )
            SELECT p.doc_id AS doc_id,
                   count(*) AS n_grams,
                   CAST(sum(CASE WHEN p.doc_id = f.f THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_novel,
                   round(CAST(sum(CASE WHEN p.doc_id = f.f
                                  THEN 1 ELSE 0 END) AS BIGINT)
                         / count(*), 6) AS novelty
            FROM pairs p JOIN first f ON f.shingle = p.shingle
            GROUP BY 1
        """,
        "quantize_int8": """
            -- absmax via list fold; code_i = floor(v*127/am + 0.5)
            -- (floor-of-shifted is engine-portable; round() is not)
            WITH base AS (
              SELECT vec_id, embedding AS v,
                     list_aggregate(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE))), 'max') AS am
              FROM embeddings WHERE len(embedding) = 64
            )
            SELECT vec_id,
                   round(coalesce(am, 0), 6) AS absmax,
                   array_to_string(list_transform(v,
                     x -> CASE WHEN am > 0 THEN CAST(floor(
                            CAST(x AS DOUBLE) * 127 / am + 0.5)
                            AS INT) ELSE 0 END), ',') AS codes
            FROM base
        """,
        "isotonic_calibration": """
            -- PAV via the minimax identity iso_i = max_{j<=i}
            -- min_{k>=i} mean(j..k); exact BIGINT prefix sums, one
            -- double division per segment mean — same fold as Spark
            WITH base AS (
              SELECT round(n_chars::DOUBLE, 6) AS v,
                     CAST(round(round(CASE WHEN lang = 'en'
                                           THEN 1.0 ELSE 0.0 END, 6)
                                * 1000000.0) AS BIGINT) AS t
              FROM documents
              WHERE n_chars IS NOT NULL AND lang IS NOT NULL
            ), vals AS (
              SELECT v, count(*) AS w, sum(t) AS s
              FROM base GROUP BY 1
            ), cums AS (
              SELECT v, w, s,
                     coalesce(sum(w) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS cb,
                     sum(w) OVER () AS n
              FROM vals
            ), binned AS (
              SELECT least(7, CAST(floor(cb * 8 / n) AS BIGINT)) AS bin,
                     w, s, v
              FROM cums
            ), bf AS (
              SELECT bin, CAST(sum(w) AS BIGINT) AS bw,
                     CAST(sum(s) AS BIGINT) AS bs,
                     min(v) AS score_lo, max(v) AS score_hi
              FROM binned GROUP BY 1
            ), pre AS (
              SELECT bin,
                     CAST(sum(bw) OVER (ORDER BY bin) AS BIGINT) AS cw,
                     CAST(sum(bs) OVER (ORDER BY bin) AS BIGINT) AS cs,
                     CAST(sum(bw) OVER (ORDER BY bin) - bw AS BIGINT)
                       AS pw,
                     CAST(sum(bs) OVER (ORDER BY bin) - bs AS BIGINT)
                       AS ps
              FROM bf
            ), segs AS (
              SELECT a.bin AS j, b.bin AS k,
                     (b.cs - a.ps) / (b.cw - a.pw) AS m
              FROM pre a CROSS JOIN pre b
              WHERE a.bin <= b.bin
            ), inner_min AS (
              SELECT i.bin AS i, s.j, min(s.m) AS mn
              FROM segs s JOIN pre i
                ON s.j <= i.bin AND s.k >= i.bin
              GROUP BY 1, 2
            ), iso AS (
              SELECT i, max(mn) AS iso FROM inner_min GROUP BY 1
            )
            SELECT bf.bin AS bin, bf.bw AS n, bf.score_lo, bf.score_hi,
                   round(bf.bs / bf.bw / 1000000.0, 6) AS rate_raw,
                   round(iso.iso / 1000000.0, 6) AS rate_iso
            FROM bf JOIN iso ON iso.i = bf.bin
        """,

        "longest_match_decontam": """
            -- positional 3-gram seeds -> diagonal gaps-and-islands;
            -- chain of c hits == shared run of c+2 tokens (exact)
            WITH dt AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text),
                                                    '\\s+'),
                                 x -> x != '') AS w
              FROM documents
            ), dg AS (
              SELECT doc_id, u.i AS i, u.g AS g FROM (
                SELECT doc_id,
                       unnest([struct_pack(i := i - 1,
                               g := array_to_string(w[i:i+2], ' '))
                               for i in generate_series(1, len(w) - 2)])
                         AS u
                FROM dt WHERE doc_id >= 25 AND len(w) >= 3)
            ), bg AS (
              SELECT doc_id AS item_id, u.i AS j, u.g AS g FROM (
                SELECT doc_id,
                       unnest([struct_pack(i := i - 1,
                               g := array_to_string(w[i:i+2], ' '))
                               for i in generate_series(1, len(w) - 2)])
                         AS u
                FROM dt WHERE doc_id < 25 AND len(w) >= 3)
            ), hits AS (
              SELECT dg.doc_id, bg.item_id, dg.i AS i, bg.j AS j,
                     dg.i - bg.j AS d
              FROM dg JOIN bg ON bg.g = dg.g
            ), runs AS (
              SELECT doc_id, item_id, d, isl,
                     count(*) + 2 AS len,
                     min(i) AS di, min(j) AS ji
              FROM (SELECT *, i - row_number() OVER (
                      PARTITION BY doc_id, item_id, d ORDER BY i) AS isl
                    FROM hits)
              GROUP BY 1, 2, 3, 4
            )
            SELECT doc_id, item_id, len AS match_tokens,
                   di AS doc_pos, ji AS item_pos
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY doc_id, item_id
                    ORDER BY len DESC, di, ji) AS rn
                  FROM runs)
            WHERE rn = 1
        """,
        "chi2_lang_source": """
            WITH joint AS (
              SELECT lang AS x, source AS y, count(*) AS c
              FROM documents
              WHERE lang IS NOT NULL AND source IS NOT NULL
              GROUP BY 1, 2
            ), mx AS (
              SELECT x, CAST(sum(c) AS BIGINT) AS cx
              FROM joint GROUP BY 1
            ), my AS (
              SELECT y, CAST(sum(c) AS BIGINT) AS cy
              FROM joint GROUP BY 1
            ), nn AS (
              SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS cells
              FROM joint
            ), grid AS (
              SELECT mx.cx, my.cy, nn.n,
                     CAST(coalesce(j.c, 0) AS BIGINT) AS c
              FROM mx CROSS JOIN my
              LEFT JOIN joint j ON j.x = mx.x AND j.y = my.y, nn
            ), ag AS (
              SELECT round(sum(CAST(round(
                       (c - (cx * cy) / n) * (c - (cx * cy) / n)
                       / ((cx * cy) / n) * 1000000000.0) AS BIGINT))
                     / 1000000000.0, 6) AS chi2
              FROM grid
            ), rk AS (
              SELECT (SELECT count(*) FROM mx) AS r,
                     (SELECT count(*) FROM my) AS k
            )
            SELECT nn.n AS n, nn.cells AS cells,
                   (rk.r - 1) * (rk.k - 1) AS dof, ag.chi2 AS chi2,
                   CASE WHEN nn.n * least(rk.r - 1, rk.k - 1) > 0
                        THEN round(sqrt(ag.chi2
                             / (nn.n * least(rk.r - 1, rk.k - 1))), 6)
                        ELSE 0.0 END AS cramers_v
            FROM nn, ag, rk
        """,
        "bursts_by_type": """
            WITH RECURSIVE tot AS MATERIALIZED (
              SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT)
                       AS p, count(*) AS n
              FROM events GROUP BY 1
            ), per AS MATERIALIZED (
              SELECT event_type AS k,
                     CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT)
                       AS p, count(*) AS c
              FROM events GROUP BY 1, 2
            ), ser AS (SELECT DISTINCT k FROM per
            ), bf AS MATERIALIZED (
              SELECT s.k, t.p, CAST(t.n AS BIGINT) AS n,
                     CAST(coalesce(per.c, 0) AS BIGINT) AS c
              FROM tot t CROSS JOIN ser s
              LEFT JOIN per ON per.k = s.k AND per.p = t.p
            ), ag AS MATERIALIZED (
              SELECT k, count(*) AS t, CAST(sum(c) AS BIGINT) AS cs,
                     CAST(sum(n) AS BIGINT) AS ns
              FROM bf GROUP BY 1
            ), par AS MATERIALIZED (
              SELECT k, t,
                     (CAST(cs AS DOUBLE) / CAST(ns AS DOUBLE)) AS p0,
                     least(1.5 * (CAST(cs AS DOUBLE)
                                  / CAST(ns AS DOUBLE)), 0.9999) AS p1,
                     CAST(round(0.2 * ln(CAST(t AS DOUBLE))
                                * 1000000.0) AS BIGINT) AS tau
              FROM ag
            ), rn AS MATERIALIZED (
              SELECT bf.k, bf.p, bf.n, bf.c,
                     row_number() OVER (PARTITION BY bf.k
                                        ORDER BY bf.p) AS i,
                     CAST(round(-(bf.c * ln(par.p0) + (bf.n - bf.c)
                                  * ln(1 - par.p0)) * 1000000.0)
                          AS BIGINT) AS c0,
                     CAST(round(-(bf.c * ln(par.p1) + (bf.n - bf.c)
                                  * ln(1 - par.p1)) * 1000000.0)
                          AS BIGINT) AS c1
              FROM bf JOIN par ON par.k = bf.k
            ), rec AS (
              SELECT k, 0 AS i, 0::BIGINT AS d0, tau AS d1,
                     '' AS s0, '' AS s1
              FROM par
              UNION ALL
              SELECT r.k, r.i,
                     (CASE WHEN v.d0 <= v.d1 THEN v.d0 ELSE v.d1 END)
                       + r.c0,
                     (CASE WHEN v.d0 + par.tau <= v.d1
                           THEN v.d0 + par.tau ELSE v.d1 END) + r.c1,
                     (CASE WHEN v.d0 <= v.d1
                           THEN v.s0 ELSE v.s1 END) || '0',
                     (CASE WHEN v.d0 + par.tau <= v.d1
                           THEN v.s0 ELSE v.s1 END) || '1'
              FROM rec v
              JOIN rn r ON r.k = v.k AND r.i = v.i + 1
              JOIN par ON par.k = v.k
            ), pth AS MATERIALIZED (
              SELECT rec.k,
                     CASE WHEN rec.d0 <= rec.d1
                          THEN rec.s0 ELSE rec.s1 END AS path
              FROM rec JOIN ag ON ag.k = rec.k AND rec.i = ag.t
            ), hits AS (
              SELECT r.k, r.i, r.p, r.c0 - r.c1 AS g
              FROM rn r JOIN pth ON pth.k = r.k
              WHERE substring(pth.path, r.i, 1) = '1'
            ), isl AS (
              SELECT k, i, p, g,
                     i - row_number() OVER (PARTITION BY k
                                            ORDER BY i) AS grp
              FROM hits
            )
            SELECT k AS event_type, min(p) * 3600000 AS t_start_ms,
                   max(p) * 3600000 AS t_end_ms,
                   count(*) AS n_buckets,
                   round(CAST(sum(g) AS BIGINT) / 1000000.0, 6)
                     AS weight
            FROM isl GROUP BY k, grp
        """,
        "mutual_info_type_hour": """
            WITH base AS (
              SELECT event_type AS x,
                     CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT)
                       % 24 AS y
              FROM events
              WHERE event_type IS NOT NULL AND ts IS NOT NULL
            ), joint AS (
              SELECT x, y, count(*) AS c FROM base GROUP BY 1, 2
            ), mx AS (
              SELECT x, CAST(sum(c) AS BIGINT) AS cx
              FROM joint GROUP BY 1
            ), my AS (
              SELECT y, CAST(sum(c) AS BIGINT) AS cy
              FROM joint GROUP BY 1
            ), nn AS (
              SELECT CAST(sum(c) AS BIGINT) AS n,
                     count(*) AS cells
              FROM joint
            ), mi AS (
              SELECT round(sum(
                       CAST(round((j.c / nn.n)
                                  * ln((nn.n * j.c) / (mx.cx * my.cy))
                                  * 1000000000.0) AS BIGINT))
                     / 1000000000.0, 6) AS mi_nats
              FROM joint j
              JOIN mx USING (x) JOIN my USING (y), nn
            ), ex AS (
              SELECT round(-sum(
                       CAST(round((cx / nn.n) * ln(cx / nn.n)
                                  * 1000000000.0) AS BIGINT))
                     / 1000000000.0, 6) AS h_x
              FROM mx, nn
            ), ey AS (
              SELECT round(-sum(
                       CAST(round((cy / nn.n) * ln(cy / nn.n)
                                  * 1000000000.0) AS BIGINT))
                     / 1000000000.0, 6) AS h_y
              FROM my, nn
            )
            SELECT nn.n AS n, nn.cells AS cells, mi.mi_nats AS mi_nats,
                   ex.h_x AS h_x, ey.h_y AS h_y,
                   CASE WHEN ex.h_x > 0 AND ey.h_y > 0
                        THEN round(mi.mi_nats / sqrt(ex.h_x * ey.h_y), 6)
                        ELSE 0.0 END AS nmi
            FROM nn, mi, ex, ey
        """,
        # per-event replay of the streaming CUSUM state machine:
        # target 50, k=10, h=200 in integer micro-units, (ts, event_id)
        # fold order — identical arithmetic to _cusum_state_fn
        "stream_cusum": """
            WITH RECURSIVE rn AS (
              SELECT user_id, event_id, epoch_ms(ts) AS t_ms,
                     CAST(round(round(value, 6) * 1000000.0) AS BIGINT)
                       AS m,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS i
              FROM events WHERE value IS NOT NULL
            ), rec AS (
              SELECT user_id, 0 AS i, 0::BIGINT AS sp, 0::BIGINT AS sn,
                     NULL::BIGINT AS t_ms, NULL::VARCHAR AS d,
                     NULL::BIGINT AS st
              FROM (SELECT DISTINCT user_id FROM rn)
              UNION ALL
              SELECT t.user_id, t.i,
                     CASE WHEN t.hit THEN 0 ELSE t.sp1 END,
                     CASE WHEN t.hit THEN 0 ELSE t.sn1 END, t.t_ms,
                     CASE WHEN t.hit THEN
                       (CASE WHEN t.sp1 >= t.sn1
                             THEN 'up' ELSE 'down' END) END,
                     CASE WHEN t.hit THEN
                       (CASE WHEN t.sp1 >= t.sn1
                             THEN t.sp1 ELSE t.sn1 END) END
              FROM (
                SELECT r.user_id, r.i, r.t_ms,
                       greatest(0, v.sp + (r.m - 50000000)
                                   - 10000000) AS sp1,
                       greatest(0, v.sn - (r.m - 50000000)
                                   - 10000000) AS sn1,
                       (greatest(0, v.sp + (r.m - 50000000)
                                    - 10000000) > 200000000
                        OR greatest(0, v.sn - (r.m - 50000000)
                                       - 10000000) > 200000000) AS hit
                FROM rec v
                JOIN rn r ON r.user_id = v.user_id AND r.i = v.i + 1
              ) t
            )
            SELECT user_id, t_ms, d AS direction,
                   round(st / 1000000.0, 6) AS stat
            FROM rec WHERE d IS NOT NULL
        """,
        "winnow_fingerprints": """
            -- rightmost-min composite: hash * 2^30 + (2^30-1 - pos);
            -- plain window min == (min hash, then max pos)
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x != '') AS w
              FROM documents
            ), gl AS (
              SELECT doc_id,
                     unnest([struct_pack(
                         pos := i - 1,
                         h := ('0x' || substr(md5(
                             array_to_string(w[i:i+2], ' ')),
                             1, 8))::BIGINT)
                         for i in generate_series(
                             1, greatest(len(w) - 2, 0))]) AS u
              FROM toks
            ), g AS (
              SELECT doc_id, u.pos AS pos, u.h AS h FROM gl
            ), sel AS (
              SELECT doc_id, pos,
                     min(h * 1073741824 + (1073741823 - pos)) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s,
                     count(*) OVER (PARTITION BY doc_id) AS n
              FROM g
            )
            SELECT DISTINCT doc_id,
                   (1073741823 - s % 1073741824)::INT AS pos,
                   s // 1073741824 AS fp
            FROM sel
            WHERE pos <= greatest(n - 4, 0)
        """,


        "stream_minhash_dedup": _SHINGLES.replace(
            "FROM documents", "FROM corpus").replace(
            "WITH toks", """WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000 AS doc_id, text FROM documents
            ), toks""") + f"""
            , sig AS (
              SELECT doc_id,
                     {_mh_sig_cols(8)}
              FROM sh GROUP BY doc_id
            ), bands AS (
              SELECT doc_id, unnest([
                  md5(concat_ws('|', '0', m0, m1, m2, m3)),
                  md5(concat_ws('|', '1', m4, m5, m6, m7))]) AS band
              FROM sig
            )
            SELECT band, min(doc_id) AS doc_id FROM bands GROUP BY 1
        """,
        "stream_minhash_dedup_indexed": _SHINGLES + f"""
            , sig AS (
              SELECT doc_id,
                     {_mh_sig_cols(8)}
              FROM sh GROUP BY doc_id
            ), bands AS (
              SELECT doc_id, unnest([
                  md5(concat_ws('|', '0', m0, m1, m2, m3)),
                  md5(concat_ws('|', '1', m4, m5, m6, m7))]) AS band
              FROM sig
            )
            -- bands of ODD (streamed) docs not pre-claimed by the
            -- EVEN (indexed) corpus; first arrival == min doc_id
            SELECT band, min(doc_id) AS doc_id
            FROM bands WHERE doc_id % 2 = 1
              AND band NOT IN (SELECT band FROM bands
                               WHERE doc_id % 2 = 0)
            GROUP BY 1
        """,
        "stream_simhash_dedup": """
            -- batch twin: md5 SimHash halves over originals + perturbed
            -- clones, 16-bit band keys, first-arrival == min doc_id
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000 AS doc_id, text || ' extra' AS text
              FROM documents
            ), toks AS (
              SELECT doc_id,
                     unnest(list_slice(
                            list_filter(string_split_regex(trim(text),
                            '\\s+'), x -> x != ''), 1, 1048576)) AS tok
              FROM corpus
            ), h AS (
              SELECT doc_id,
                     ('0x' || substr(md5(tok), 1, 8))::UBIGINT * 4294967296
                     + ('0x' || substr(md5(tok), 9, 8))::UBIGINT AS h
              FROM toks
            ), bits AS (
              SELECT doc_id, g.b AS b,
                     sum(CASE WHEN ((h >> g.b) & CAST(1 AS UBIGINT)) = 1
                         THEN 1 ELSE -1 END) AS s
              FROM h CROSS JOIN generate_series(0, 63) g(b)
              GROUP BY 1, 2
            ), sim AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN s > 0 AND b >= 32
                          THEN CAST(1 AS BIGINT) << (b - 32) ELSE 0 END)
                          AS BIGINT) AS hi,
                     CAST(sum(CASE WHEN s > 0 AND b < 32
                          THEN CAST(1 AS BIGINT) << b ELSE 0 END)
                          AS BIGINT) AS lo
              FROM bits GROUP BY doc_id
            ), bands AS (
              SELECT doc_id, unnest([
                  '0:' || (lo & 65535)::VARCHAR,
                  '1:' || ((lo >> 16) & 65535)::VARCHAR,
                  '2:' || (hi & 65535)::VARCHAR,
                  '3:' || ((hi >> 16) & 65535)::VARCHAR]) AS band
              FROM sim
            )
            SELECT band, min(doc_id) AS doc_id FROM bands GROUP BY 1
        """,
        "stream_first_seen": """
            SELECT md5(text) AS digest, min(doc_id) AS doc_id
            FROM documents GROUP BY 1
        """,
        "stream_bloom": """
            WITH probes AS (
              SELECT h.h,
                     ('0x' || substr(md5(h.h::VARCHAR || '|'
                                         || md5(text)), 1, 8))::BIGINT
                       % 2048 AS b
              FROM documents
              CROSS JOIN (SELECT unnest([0, 1, 2]) AS h) h
            )
            SELECT (b // 32)::INT AS word,
                   bit_or(1::BIGINT << (b % 32)::INT) AS bits
            FROM probes GROUP BY 1
        """,
        "stream_hll": """
            WITH reg AS (
              SELECT ('0x' || substr(md5(md5(text)), 1, 8))::BIGINT % 64
                       AS idx,
                     33 - length(ltrim(lpad(
                         bin(('0x' || substr(md5(md5(text)), 9, 8))
                             ::BIGINT), 32, '0'), '0')) AS rho
              FROM documents
            )
            SELECT idx, max(rho) AS reg FROM reg GROUP BY idx
        """,
        "heavy_hitters": """
            WITH arr AS (
              SELECT list_filter(list_transform(
                         list_filter(string_split_regex(trim(text),
                                                        '\\s+'),
                                     x -> x != ''),
                         x -> regexp_replace(lower(x),
                             '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g')),
                       x -> x != '') AS a
              FROM documents
            ), tok AS (
              SELECT unnest(a) AS token FROM arr
            ), tot AS (
              SELECT count(*) AS n FROM tok
            )
            SELECT token, count(*) AS cnt,
                   round(count(*) / (SELECT n FROM tot), 6) AS share
            FROM tok GROUP BY token
            HAVING count(*) * 64 >= (SELECT n FROM tot)
        """,
        "rouge2_pairs": _SHINGLES + f"""
            , sig AS (
              SELECT doc_id,
                     {_mh_sig_cols(8)}
              FROM sh GROUP BY doc_id
            ), bands AS (
              SELECT doc_id, unnest([
                  md5(concat_ws('|', '0', m0, m1, m2, m3)),
                  md5(concat_ws('|', '1', m4, m5, m6, m7))]) AS band
              FROM sig
            ), cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.doc_id < b.doc_id
            ), tk AS (
              SELECT doc_id,
                     list_filter(list_transform(
                       list_filter(string_split_regex(trim(text),
                                                      '\\s+'),
                                   x -> x != ''),
                       x -> regexp_replace(lower(x),
                           '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g')),
                       x -> x != '') AS mw
              FROM documents
            ), gc AS (
              SELECT doc_id, g, count(*) AS c FROM (
                SELECT doc_id,
                       unnest([array_to_string(mw[i:i+1], ' ')
                               for i in generate_series(1, len(mw) - 1)])
                       AS g
                FROM tk)
              GROUP BY 1, 2
            ), tot AS (
              SELECT doc_id, sum(c) AS t FROM gc GROUP BY 1
            ), ov AS (
              SELECT c.id_a, c.id_b, sum(least(a.c, b.c)) AS ov
              FROM cand c
              JOIN gc a ON a.doc_id = c.id_a
              JOIN gc b ON b.doc_id = c.id_b AND b.g = a.g
              GROUP BY 1, 2
            )
            SELECT c.id_a, c.id_b,
                   CAST(coalesce(o.ov, 0) AS BIGINT) AS overlap,
                   coalesce(round(o.ov / ta.t, 6), 0.0) AS rouge2_recall,
                   coalesce(round(o.ov / tb.t, 6), 0.0)
                     AS rouge2_precision,
                   coalesce(round(2.0 * (o.ov / ta.t) * (o.ov / tb.t)
                                  / ((o.ov / ta.t) + (o.ov / tb.t)), 6),
                            0.0) AS rouge2_f1
            FROM cand c
            LEFT JOIN ov o ON o.id_a = c.id_a AND o.id_b = c.id_b
            LEFT JOIN tot ta ON ta.doc_id = c.id_a
            LEFT JOIN tot tb ON tb.doc_id = c.id_b
        """,
        "editdist_pairs": _SHINGLES + f"""
            , sig AS (
              SELECT doc_id,
                     {_mh_sig_cols(8)}
              FROM sh GROUP BY doc_id
            ), bands AS (
              SELECT doc_id, unnest([
                  md5(concat_ws('|', '0', m0, m1, m2, m3)),
                  md5(concat_ws('|', '1', m4, m5, m6, m7))]) AS band
              FROM sig
            ), cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.doc_id < b.doc_id
            )
            SELECT c.id_a, c.id_b,
                   levenshtein(ta.text, tb.text) AS edit_dist,
                   round(1.0 - levenshtein(ta.text, tb.text)
                         / greatest(length(ta.text), length(tb.text), 1),
                         6) AS edit_sim,
                   round(1.0 - levenshtein(ta.text, tb.text)
                         / greatest(length(ta.text), length(tb.text), 1),
                         6) >= 0.95 AS is_dup
            FROM cand c
            JOIN documents ta ON ta.doc_id = c.id_a
            JOIN documents tb ON tb.doc_id = c.id_b
        """,
        "stream_cms_sketch": """
            WITH arr AS (
              SELECT doc_id,
                     list_filter(list_transform(
                         list_filter(string_split_regex(trim(text),
                                                        '\\s+'),
                                     x -> x != ''),
                         x -> regexp_replace(lower(x),
                             '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g')),
                       x -> x != '') AS a
              FROM documents
            ), tok AS (
              SELECT unnest(a) AS t FROM arr
            ), rows AS (
              SELECT unnest([0, 1, 2]) AS row
            ), cells AS (
              SELECT rows.row,
                     ('0x' || substr(md5(rows.row::VARCHAR || '|' || t),
                                     1, 8))::BIGINT % 8 AS bucket
              FROM tok CROSS JOIN rows
            )
            SELECT row, bucket, count(*) AS cnt
            FROM cells GROUP BY row, bucket
        """,
        "oov_stats": """
            WITH arr AS (
              SELECT doc_id,
                     list_filter(list_transform(
                         list_filter(string_split_regex(trim(text),
                                                        '\\s+'),
                                     x -> x != ''),
                         x -> regexp_replace(lower(x),
                             '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g')),
                       x -> x != '') AS a
              FROM documents
            ), tok AS (
              SELECT doc_id, unnest(a) AS t FROM arr
            ), vocab AS (
              SELECT t FROM tok GROUP BY t HAVING count(*) >= 30
            )
            SELECT tok.doc_id, count(*) AS n_tokens,
                   CAST(sum(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_oov,
                   round(CAST(sum(CASE WHEN vocab.t IS NULL THEN 1 ELSE 0
                                  END) AS BIGINT)
                         / CAST(count(*) AS DOUBLE), 6) + 0.0 AS oov_rate
            FROM tok LEFT JOIN vocab ON tok.t = vocab.t
            GROUP BY tok.doc_id
        """,
        "nb_quality": """
            WITH arr AS (
              SELECT doc_id, source,
                     list_filter(list_transform(
                         list_filter(string_split_regex(trim(text),
                                                        '\\s+'),
                                     x -> x != ''),
                         x -> regexp_replace(lower(x),
                             '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g')),
                       x -> x != '') AS a
              FROM documents
            ), grams AS (
              SELECT doc_id, source, unnest(list_concat(a,
                       CASE WHEN len(a) >= 2
                            THEN list_transform(
                                generate_series(1, len(a) - 1),
                                i -> a[i] || ' ' || a[i + 1])
                            ELSE [] END)) AS g
              FROM arr
            ), bk AS (
              SELECT doc_id, source,
                     ('0x' || substr(md5(g), 1, 8))::BIGINT % 4096 AS b
              FROM grams
            ), pc AS (
              SELECT count(*) FILTER (WHERE source = 'src0') AS dp,
                     count(*) FILTER (WHERE source <> 'src0') AS dn
              FROM documents
            ), bc AS (
              SELECT b,
                     count(*) FILTER (WHERE source = 'src0') AS cp,
                     count(*) FILTER (WHERE source <> 'src0') AS cn
              FROM bk GROUP BY b
            ), tot AS (
              SELECT CAST(sum(cp) AS BIGINT) AS np,
                     CAST(sum(cn) AS BIGINT) AS nn
              FROM bc
            ), ratio AS (
              SELECT b,
                     CAST(round((ln((cp + 1.0) / (np + 1.0 * 4096))
                               - ln((cn + 1.0) / (nn + 1.0 * 4096)))
                                * 1000000.0) AS BIGINT) AS llr
              FROM bc CROSS JOIN tot
            ), konst AS (
              SELECT CAST(round(ln((dp + 1.0) / (dn + 1.0))
                                * 1000000.0) AS BIGINT) AS prior,
                     CAST(round((ln(1.0 / (np + 1.0 * 4096))
                               - ln(1.0 / (nn + 1.0 * 4096)))
                                * 1000000.0) AS BIGINT) AS dflt
              FROM pc CROSS JOIN tot
            )
            SELECT bk.doc_id, count(*) AS n_grams,
                   (max(konst.prior)
                    + CAST(sum(COALESCE(ratio.llr, konst.dflt)) AS BIGINT))
                     / 1000000.0 AS log_odds
            FROM bk LEFT JOIN ratio USING (b) CROSS JOIN konst
            GROUP BY bk.doc_id
        """,
        "temperature_mix": """
            WITH tok AS (
              SELECT doc_id, source,
                     len(regexp_extract_all(text,
                         '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens,
                     ('0x' || substr(md5('0|' || doc_id::VARCHAR), 1, 8))
                         ::BIGINT / 4294967296.0 AS h
              FROM documents
            ), src AS (
              SELECT source, sqrt(CAST(sum(n_tokens) AS DOUBLE)) AS w
              FROM tok GROUP BY source
            ), z AS (
              SELECT sum(w) AS z FROM src
            ), b AS (
              SELECT source,
                     CAST(floor(round(15000 * w / z, 6)) AS BIGINT)
                       AS budget_tokens,
                     round(w / z, 6) AS mix_share
              FROM src, z
            ), c AS (
              SELECT t.doc_id, t.source, t.n_tokens,
                     CAST(sum(t.n_tokens) OVER (PARTITION BY t.source
                         ORDER BY t.h, t.doc_id
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
                     b.budget_tokens, b.mix_share
              FROM tok t JOIN b USING (source)
            )
            SELECT doc_id, source, n_tokens, cum_tokens, budget_tokens,
                   mix_share
            FROM c WHERE cum_tokens - n_tokens < budget_tokens
        """,
        "token_budget_mix": """
            WITH base AS (
              SELECT doc_id, source,
                     len(regexp_extract_all(text,
                         '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens,
                     CASE source WHEN 'src0' THEN 4000 WHEN 'src1' THEN 1500
                                 WHEN 'src2' THEN 10000000 END AS budget,
                     ('0x' || substr(md5('0|' || doc_id::VARCHAR), 1, 8))
                         ::BIGINT / 4294967296.0 AS h
              FROM documents
              WHERE source IN ('src0', 'src1', 'src2')
            ), c AS (
              -- CAST: DuckDB window sum(<int>) is HUGEINT -> float64 in
              -- pandas, byte-mismatching Spark's int64 in the driver hash
              SELECT doc_id, source, n_tokens, budget,
                     CAST(sum(n_tokens) OVER (PARTITION BY source
                         ORDER BY h, doc_id
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
              FROM base
            )
            SELECT doc_id, source, n_tokens, cum_tokens FROM c
            WHERE cum_tokens - n_tokens < budget
        """,
        "pack_bins": _PACK_BINS_CTE + """
            SELECT doc_id, n_tokens, shard, bin, overflow FROM pack
        """,
        "pack_bins_report": _PACK_BINS_CTE + """
            , bins AS (
              -- CAST: DuckDB sum(BIGINT) is HUGEINT, which pandas turns
              -- into float64 — keep every integer metric BIGINT
              SELECT shard, bin, CAST(sum(n_tokens) AS BIGINT) AS load,
                     bool_or(overflow) AS over, count(*) AS n
              FROM pack GROUP BY 1, 2
            )
            SELECT CAST(sum(n) AS BIGINT) AS n_docs,
                   count(*) AS n_bins,
                   CAST(sum(CASE WHEN over THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_overflow_bins,
                   CAST(sum(load) AS BIGINT) AS total_tokens,
                   round(sum(CASE WHEN NOT over THEN load END)
                         / (count(CASE WHEN NOT over THEN 1 END) * 60.0),
                         6) AS fill_frac,
                   CAST(min(CASE WHEN NOT over THEN load END) AS BIGINT)
                     AS min_load,
                   CAST(max(CASE WHEN NOT over THEN load END) AS BIGINT)
                     AS max_load,
                   round(sum(n) / CAST(count(*) AS DOUBLE), 6)
                     AS docs_per_bin
            FROM bins
        """,
        "pack_sequences": """
            WITH base AS (
              SELECT doc_id,
                     len(regexp_extract_all(text,
                         '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens,
                     ('0x' || substr(md5('0|' || doc_id::VARCHAR), 1, 8))
                         ::BIGINT % 8 AS shard,
                     ('0x' || substr(md5('0|' || doc_id::VARCHAR), 1, 8))
                         ::BIGINT / 4294967296.0 AS h
              FROM documents
            ), c AS (
              -- CAST: window sum(<int>) is HUGEINT in DuckDB; keep the
              -- running offset BIGINT so pandas doesn't float64 it
              SELECT doc_id, n_tokens, shard,
                     CAST(sum(n_tokens) OVER (PARTITION BY shard
                         ORDER BY h, doc_id
                         ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
                       AS start
              FROM base
            )
            SELECT doc_id, n_tokens, shard,
                   CAST(floor(start / 2048.0) AS BIGINT) AS seq,
                   start % 2048 AS offset
            FROM c
        """,
        "chunk_docs": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x != '') AS w
              FROM documents
            ), c AS (
              SELECT doc_id, w,
                     greatest(CAST(ceil((len(w) - 8) / 56.0) AS INT), 1)
                       AS nc
              FROM t
            )
            , e AS (
              SELECT doc_id, w,
                     unnest(generate_series(0, nc - 1)) AS i
              FROM c
            )
            SELECT doc_id, i AS chunk_idx,
                   md5(array_to_string(
                       list_slice(w, i * 56 + 1, i * 56 + 64), ' '))
                     AS chunk_md5,
                   len(list_slice(w, i * 56 + 1, i * 56 + 64))
                     AS chunk_n_tokens
            FROM e
        """,
        "unigram_logprob": """
            WITH tk AS (
              SELECT doc_id, x AS tok FROM (
                SELECT doc_id,
                       unnest(list_transform(
                         list_filter(string_split_regex(trim(text), '\\s+'),
                                     x -> x != ''),
                         x -> regexp_replace(lower(x),
                             '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g'))) AS x
                FROM documents)
              WHERE x != ''
            ), c AS (
              SELECT tok, count(*) AS cnt FROM tk GROUP BY tok
            ), tot AS (SELECT count(*) AS t FROM tk),
            v AS (SELECT count(*) AS nv FROM c)
            SELECT tk.doc_id, count(*) AS n_tokens,
                   round(avg(log2((c.cnt + 1.0) / (tot.t + 1.0 * v.nv))), 6)
                     AS mean_logprob
            FROM tk JOIN c USING (tok) CROSS JOIN tot CROSS JOIN v
            GROUP BY tk.doc_id
        """,
        "tfidf_top_terms": """
            WITH tk AS (
              SELECT doc_id, x AS tok FROM (
                SELECT doc_id,
                       unnest(list_transform(
                         list_filter(string_split_regex(trim(text), '\\s+'),
                                     x -> x != ''),
                         x -> regexp_replace(lower(x),
                             '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g'))) AS x
                FROM documents)
              WHERE x != ''
            ), tf AS (
              SELECT doc_id, tok, count(*) AS tf
              FROM tk GROUP BY doc_id, tok
            ), dfreq AS (
              SELECT tok, count(*) AS df FROM tf GROUP BY tok
            ), nd AS (SELECT count(*) AS n FROM documents),
            s AS (
              SELECT tf.doc_id, tf.tok,
                     tf.tf * (ln((1.0 + nd.n) / (1.0 + dfreq.df)) + 1.0)
                       AS tfidf,
                     row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY tf.tf * (ln((1.0 + nd.n) / (1.0 + dfreq.df))
                                         + 1.0) DESC, tf.tok) AS rank
              FROM tf JOIN dfreq USING (tok) CROSS JOIN nd
            )
            SELECT doc_id, rank, tok AS term, round(tfidf, 6) AS tfidf
            FROM s WHERE rank <= 5
        """,
        "rolling_10m_stats": """
            SELECT event_id, user_id, epoch_ms(ts) AS t_ms,
                   round(avg(value) OVER w, 6) AS avg_10m,
                   count(value) OVER w AS n_10m,
                   max(value) OVER w AS max_10m
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                         RANGE BETWEEN 599999 PRECEDING AND CURRENT ROW)
        """,
        "zscore_by_user": """
            WITH s AS (
              SELECT event_id, user_id, value,
                     avg(value) OVER w AS mu,
                     stddev_pop(value) OVER w AS sigma
              FROM events
              WINDOW w AS (PARTITION BY user_id)
            )
            SELECT event_id, user_id,
                   CASE WHEN sigma = 0 THEN NULL
                        ELSE round((value - mu) / sigma, 6) END
                     AS value_zscore,
                   coalesce(CASE WHEN sigma = 0 THEN NULL
                                 ELSE abs((value - mu) / sigma) > 3.0 END,
                            FALSE) AS value_anomaly
            FROM s
        """,
        "ewma_per_user": """
            -- prefix fold per event: O(n^2) in events-per-user, fine as an
            -- oracle; the Spark side is the O(n) recurrence
            WITH l AS (
              SELECT user_id,
                     list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS xs,
                     list(event_id ORDER BY ts, event_id) AS ids,
                     list(epoch_ms(ts) ORDER BY ts, event_id) AS tms
              FROM events GROUP BY user_id
            ), e AS (
              SELECT user_id, xs, ids, tms,
                     unnest(generate_series(1, len(xs))) AS k
              FROM l
            )
            SELECT ids[k] AS event_id, user_id, tms[k] AS t_ms,
                   list_reduce(list_slice(xs, 1, k),
                               (acc, x) -> 0.5 * x + 0.5 * acc)
                     AS value_ewma
            FROM e
        """,
        "take_per_source": """
            WITH h AS (
              SELECT doc_id, source,
                     ('0x' || substr(md5('0|' || doc_id::VARCHAR), 1, 8))
                         ::BIGINT / 4294967296.0 AS hh
              FROM documents
            ), r AS (
              SELECT doc_id, source,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY hh, doc_id) AS rn
              FROM h
            )
            SELECT doc_id, source FROM r WHERE rn <= 3
        """,
        "containment_pairs": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x != '') AS w
              FROM documents
            ), allw AS (
              SELECT doc_id, w FROM toks
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, w[1:20] AS w
              FROM toks WHERE doc_id % 5 = 0
            ), sh AS (
              SELECT doc_id,
                     list_distinct([array_to_string(w[i:i+2], ' ')
                       for i in generate_series(1, greatest(len(w) - 2, 1))])
                     AS s
              FROM allw
            ), p AS (
              SELECT doc_id AS id_a, doc_id + 1000000 AS id_b
              FROM documents WHERE doc_id % 5 = 0
            )
            SELECT id_a, id_b,
                   round(len(list_intersect(a.s, b.s))
                         / CAST(len(a.s) AS DOUBLE), 6) AS containment_a,
                   round(len(list_intersect(a.s, b.s))
                         / CAST(len(b.s) AS DOUBLE), 6) AS containment_b
            FROM p JOIN sh a ON a.doc_id = p.id_a
                   JOIN sh b ON b.doc_id = p.id_b
        """,
        "interval_join_events": """
            WITH l AS (
              SELECT event_id AS lid, user_id, epoch_ms(ts) AS lb,
                     epoch_ms(ts) + 600000 AS le,
                     epoch_us(ts) AS lbu, epoch_us(ts) + 600000000 AS leu
              FROM events WHERE value > 90
            ), r AS (
              SELECT event_id AS rid, user_id, epoch_ms(ts) AS rb,
                     epoch_ms(ts) + 300000 AS re,
                     epoch_us(ts) AS rbu, epoch_us(ts) + 300000000 AS reu
              FROM events WHERE event_type = 'click'
            )
            -- overlap tested at full microsecond precision (the engine
            -- compares complete timestamps); outputs stay ms — floor is
            -- monotone, so greatest/least commute with the truncation
            SELECT lid, rid, user_id,
                   greatest(lb, rb) AS o_begin_ms,
                   least(le, re) AS o_end_ms
            FROM l JOIN r USING (user_id)
            WHERE lbu < reu AND rbu < leu
        """,
        "shuffle_shards": """
            WITH h AS (
              SELECT doc_id,
                     CAST(floor(('0x' || substr(md5('0-shard|' ||
                         doc_id::VARCHAR), 1, 8))::BIGINT
                         / 4294967296.0 * 8) AS INTEGER) AS shard,
                     ('0x' || substr(md5('0-order|' || doc_id::VARCHAR),
                         1, 8))::BIGINT / 4294967296.0 AS ho
              FROM documents)
            SELECT doc_id, shard,
                   row_number() OVER (PARTITION BY shard
                                      ORDER BY ho, doc_id) AS pos
            FROM h
        """,
        "upsample_quality": """
            SELECT doc_id,
                   unnest(generate_series(1,
                       CASE WHEN n_chars >= 400 THEN 3
                            WHEN n_chars >= 200 THEN 2 ELSE 1 END))
                       AS "copy"
            FROM documents
        """,
        "ngram_top": """
            WITH tk AS (
              SELECT doc_id,
                     list_transform(
                       list_filter(string_split_regex(trim(text), '\\s+'),
                                   x -> x != ''),
                       x -> regexp_replace(lower(x),
                           '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g')) AS w
              FROM documents
            ), g AS (
              SELECT unnest(list_transform(
                         range(1, greatest(len(w) - 1, 0) + 1),
                         i -> array_to_string(w[i:i+1], ' '))) AS gram
              FROM tk
            )
            SELECT gram, count(*) AS n_gram
            FROM g WHERE gram != ''
            GROUP BY gram
            ORDER BY n_gram DESC, gram ASC
            LIMIT 20
        """,
        "label_centroids": """
            SELECT label, dim,
                   round(avg(v), 6) AS centroid,
                   count(v) AS n
            FROM (SELECT label,
                         unnest(embedding) AS v,
                         CAST(unnest(range(len(embedding))) AS INTEGER)
                             AS dim
                  FROM embeddings)
            GROUP BY label, dim
        """,
        "value_histogram": """
            SELECT event_type, bin,
                   bin * 25.0 AS bin_lo,
                   (bin + 1) * 25.0 AS bin_hi,
                   count(*) AS n
            FROM (SELECT event_type,
                         CAST(floor(value / 25.0) AS BIGINT) AS bin
                  FROM events
                  WHERE value IS NOT NULL AND NOT isnan(value))
            GROUP BY event_type, bin
        """,
        "distinct_users_hourly": f"""
            SELECT concat('1h-', {_POS_1H}) AS "index", event_type,
                   count(DISTINCT user_id) AS u_users,
                   count(value) AS n
            FROM events
            GROUP BY 1, 2
        """,
        "tpch_q3": """
            SELECT l_orderkey, epoch_ms(o_orderdate) AS o_date_ms,
                   round(sum(l_extendedprice * (1 - l_discount)), 4)
                     AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1997-01-01'
              AND l_shipdate > TIMESTAMP '1997-01-01'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
            LIMIT 10
        """,
        "centroid_classify": """
            WITH cd AS (
              SELECT label AS clabel, dim, round(avg(v), 6) AS cv
              FROM (SELECT label, unnest(embedding) AS v,
                           CAST(unnest(range(len(embedding))) AS INTEGER)
                               AS dim
                    FROM embeddings)
              GROUP BY label, dim
            ), c AS (
              SELECT clabel, list(cv ORDER BY dim) AS cvec
              FROM cd GROUP BY clabel
            ), s AS (
              -- dot/norm as ordered list folds so the float summation
              -- order matches the engine's zip_with/aggregate exactly
              SELECT e.vec_id, e.label, c.clabel,
                     coalesce(CASE WHEN
                         sqrt(list_reduce(list_transform(e.embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                              (a, b) -> a + b))
                         * sqrt(list_reduce(list_transform(c.cvec,
                                x -> x * x), (a, b) -> a + b)) = 0
                       THEN NULL
                       ELSE round(
                         list_reduce(list_transform(
                             range(1, len(c.cvec) + 1),
                             i -> CAST(e.embedding[i] AS DOUBLE)
                                  * c.cvec[i]),
                           (a, b) -> a + b)
                         / (sqrt(list_reduce(list_transform(e.embedding,
                                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                                (a, b) -> a + b))
                            * sqrt(list_reduce(list_transform(c.cvec,
                                   x -> x * x), (a, b) -> a + b))), 6)
                       END, -2.0) AS s
              FROM embeddings e CROSS JOIN c
            ), r AS (
              SELECT vec_id, label, clabel AS pred_label, s,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY s DESC, clabel ASC) AS rn
              FROM s
            )
            SELECT vec_id, label, pred_label,
                   CAST(label = pred_label AS INTEGER) AS correct
            FROM r WHERE rn = 1
        """,
        "stream_rolling_10m": """
            SELECT event_id, user_id, epoch_ms(ts) AS t_ms,
                   round(avg(value) OVER w, 6) AS avg_10m,
                   count(value) OVER w AS n_10m,
                   max(value) OVER w AS max_10m
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                         RANGE BETWEEN 599999 PRECEDING AND CURRENT ROW)
        """,
        "stream_zscore_10m": """
            WITH s AS (
              SELECT event_id, user_id, epoch_ms(ts) AS t_ms, value,
                     avg(value) OVER w AS mu,
                     stddev_pop(value) OVER w AS sigma
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                           RANGE BETWEEN 599999 PRECEDING AND 1 PRECEDING))
            SELECT event_id, user_id, t_ms,
                   CASE WHEN sigma IS NULL OR sigma = 0 THEN NULL
                        ELSE round((value - mu) / sigma, 6) END
                     AS value_zscore,
                   coalesce(CASE WHEN sigma IS NULL OR sigma = 0 THEN NULL
                                 ELSE abs((value - mu) / sigma) > 2.0 END,
                            FALSE) AS value_anomaly
            FROM s
        """,
        "stream_ewma": """
            WITH l AS (
              SELECT user_id,
                     list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS xs,
                     list(event_id ORDER BY ts, event_id) AS ids,
                     list(epoch_ms(ts) ORDER BY ts, event_id) AS tms
              FROM events GROUP BY user_id
            ), e AS (
              SELECT user_id, xs, ids, tms,
                     unnest(generate_series(1, len(xs))) AS k
              FROM l
            )
            SELECT ids[k] AS event_id, user_id, tms[k] AS t_ms,
                   list_reduce(list_slice(xs, 1, k),
                               (acc, x) -> 0.5 * x + 0.5 * acc)
                     AS value_ewma
            FROM e
        """,
        "deep_path_fill": """
            WITH base AS (
              SELECT event_id, user_id, epoch_ms(ts) AS ms,
                     CAST(props->>'k' AS INTEGER) AS k,
                     CASE WHEN event_type <> 'click' THEN value END AS v
              FROM events)
            SELECT event_id, user_id, k,
                   round(coalesce(v, last_value(v IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ms
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
                         6) AS v_filled
            FROM base
        """,
        "gaps_per_user": _GAPS_SQL,
        "stream_gaps_4h": _GAPS_SQL,
        "ohlc_hourly": f"""
            WITH r AS (
              SELECT event_type, value, {_POS_1H} AS pos,
                     row_number() OVER (PARTITION BY {_POS_1H}, event_type
                                        ORDER BY ts, event_id) AS rn_a,
                     row_number() OVER (PARTITION BY {_POS_1H}, event_type
                                        ORDER BY ts DESC, event_id DESC)
                       AS rn_d
              FROM events)
            SELECT concat('1h-', pos) AS "index", event_type,
                   max(CASE WHEN rn_a = 1 THEN value END) AS open,
                   max(value) AS high, min(value) AS low,
                   max(CASE WHEN rn_d = 1 THEN value END) AS close
            FROM r GROUP BY 1, 2
        """,
        "seasonal_anomaly": """
            WITH prof AS (
              SELECT event_type, dayofweek(ts) AS dow, hour(ts) AS hod,
                     avg(value) AS mean, stddev_pop(value) AS std,
                     count(value) AS n
              FROM events
              WHERE value IS NOT NULL AND NOT isnan(value)
              GROUP BY 1, 2, 3)
            SELECT e.event_id, e.event_type,
                   dayofweek(e.ts) AS dow, hour(e.ts) AS hod,
                   round(p.mean, 6) AS slot_mean,
                   round(p.std, 6) AS slot_std,
                   CASE WHEN p.n >= 2 AND p.std > 0
                        THEN round((e.value - p.mean) / p.std, 6) END
                     AS deviation
            FROM events e
            LEFT JOIN prof p
              ON e.event_type = p.event_type
             AND dayofweek(e.ts) = p.dow AND hour(e.ts) = p.hod
        """,
        "corr_click_view": """
            WITH b AS (
              SELECT CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT)
                       AS bpos,
                     avg(CASE WHEN event_type = 'click' THEN value END)
                       AS va,
                     avg(CASE WHEN event_type = 'view' THEN value END)
                       AS vb
              FROM events
              WHERE value IS NOT NULL AND NOT isnan(value)
              GROUP BY 1)
            SELECT CAST(floor(bpos / 24.0) AS BIGINT) AS pos,
                   round(corr(va, vb), 6) + 0.0 AS r,
                   count(CASE WHEN va IS NOT NULL AND vb IS NOT NULL
                              THEN 1 END) AS n_buckets
            FROM b GROUP BY 1
        """,
        "chunk_dedup_docs": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS t
              FROM documents
            ), ix AS (
              SELECT doc_id, t,
                     unnest(generate_series(
                         0, CAST(greatest(ceil(len(t) / 20.0), 1) AS BIGINT)
                            - 1)) AS idx
              FROM toks
            ), c AS (
              SELECT doc_id, idx,
                     array_to_string(t[idx * 20 + 1 : idx * 20 + 20], ' ')
                       AS chunk
              FROM ix
            ), k AS (
              SELECT doc_id, idx, chunk,
                     row_number() OVER (PARTITION BY chunk
                                        ORDER BY doc_id, idx) AS rn
              FROM c
            )
            SELECT doc_id, count(*) AS n_kept,
                   md5(string_agg(chunk, ' ' ORDER BY idx)) AS text_hash
            FROM k WHERE rn = 1 GROUP BY doc_id
        """,
        "incremental_dedup": """
            SELECT doc_id, source FROM documents d
            WHERE doc_id % 2 = 1
              AND NOT EXISTS (
                SELECT 1 FROM documents r
                WHERE r.doc_id % 2 = 0 AND md5(r.text) = md5(d.text))
        """,
        "semantic_dedup": _EMB_CTE + f"""
            , c0 AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS c
              FROM e ORDER BY vec_id LIMIT 16
            ),
            a1 AS {_ivf_assign_cte("c0")},
            c1 AS {_ivf_means_cte("a1", "c0")},
            a2 AS {_ivf_assign_cte("c1")},
            c2 AS {_ivf_means_cte("a2", "c1")},
            af AS {_ivf_assign_cte("c2")},
            d AS (
              SELECT b.vec_id
              FROM af a JOIN af b
                ON a.cell = b.cell AND a.vec_id < b.vec_id
              WHERE round({_sql_dot("a.v", "b.v")} / (a.nrm * b.nrm), 6)
                    >= 0.9
              GROUP BY b.vec_id
            )
            SELECT af.vec_id, af.cell,
                   CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
            FROM af LEFT JOIN d ON af.vec_id = d.vec_id
        """,
        "json_props_rollup": """
            SELECT strftime(ts, '%Y-%m-%d') AS "index",
                   CAST(floor(CAST(props->>'k' AS INTEGER) / 10.0)
                        AS BIGINT) AS k_decile,
                   round(coalesce(sum(value), 0), 6) AS v_sum,
                   count(value) AS n
            FROM events GROUP BY 1, 2
        """,
        "source_overlap": """
            WITH ds AS (
              SELECT DISTINCT
                     md5(array_to_string(
                         list_filter(string_split(text, ' '),
                                     x -> x <> '')[1:20], ' ')) AS dig,
                     source
              FROM documents)
            SELECT a.source AS source_a, b.source AS source_b,
                   count(*) AS n_shared
            FROM ds a JOIN ds b
              ON a.dig = b.dig AND a.source < b.source
            GROUP BY 1, 2
        """,
        "cumsum_by_user": _CUMSUM_SQL,
        "stream_cumsum": _CUMSUM_SQL,
        "top_movers": """
            WITH d AS (
              SELECT strftime(ts, '%Y-%m-%d') AS "index", event_type,
                     avg(value) AS v_avg
              FROM events GROUP BY 1, 2
            ), p AS (
              SELECT "index", event_type,
                     round((v_avg - lag(v_avg) OVER w)
                           / lag(v_avg) OVER w * 100, 6) AS pct_change
              FROM d
              WINDOW w AS (PARTITION BY event_type ORDER BY "index")
            )
            SELECT "index", event_type, pct_change,
                   row_number() OVER (PARTITION BY "index"
                                      ORDER BY abs(pct_change) DESC,
                                               event_type) AS move_rank
            FROM p WHERE pct_change IS NOT NULL
        """,
        "m4_hourly": f"""
            WITH b AS (
              SELECT event_type, ts, value, event_id, {_POS_1H} AS pos
              FROM events
              WHERE value IS NOT NULL AND NOT isnan(value)
            ), r AS (
              SELECT event_type, pos, ts, value,
                     row_number() OVER (PARTITION BY event_type, pos
                         ORDER BY ts, event_id) AS rf,
                     row_number() OVER (PARTITION BY event_type, pos
                         ORDER BY ts DESC, event_id) AS rl,
                     row_number() OVER (PARTITION BY event_type, pos
                         ORDER BY value, ts, event_id) AS rn,
                     row_number() OVER (PARTITION BY event_type, pos
                         ORDER BY value DESC, ts, event_id) AS rx
              FROM b
            )
            SELECT event_type, pos, epoch_ms(ts) AS t_ms, value,
                   array_to_string(list_sort(list_filter([
                       CASE WHEN rf = 1 THEN 'first' END,
                       CASE WHEN rl = 1 THEN 'last' END,
                       CASE WHEN rn = 1 THEN 'min' END,
                       CASE WHEN rx = 1 THEN 'max' END],
                       x -> x IS NOT NULL)), ',') AS tags
            FROM r WHERE rf = 1 OR rl = 1 OR rn = 1 OR rx = 1
        """,
        "ccnet_buckets": """
            WITH tk AS (
              SELECT doc_id, x AS tok FROM (
                SELECT doc_id,
                       unnest(list_transform(
                         list_filter(string_split_regex(trim(text), '\\s+'),
                                     x -> x != ''),
                         x -> regexp_replace(lower(x),
                             '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g'))) AS x
                FROM documents)
              WHERE x != ''
            ), c AS (
              SELECT tok, count(*) AS cnt FROM tk GROUP BY tok
            ), tot AS (SELECT count(*) AS t FROM tk),
            v AS (SELECT count(*) AS nv FROM c),
            s AS (
              SELECT tk.doc_id, count(*) AS n_tokens,
                     round(avg(log2((c.cnt + 1.0) / (tot.t + 1.0 * v.nv))),
                           6) AS score
              FROM tk JOIN c USING (tok) CROSS JOIN tot CROSS JOIN v
              GROUP BY tk.doc_id
            ), cuts AS (
              SELECT quantile_cont(score, 1.0/3) AS c1,
                     quantile_cont(score, 2.0/3) AS c2
              FROM s
            )
            SELECT s.doc_id, s.n_tokens, s.score,
                   CASE WHEN s.score >= cuts.c2 THEN 'head'
                        WHEN s.score >= cuts.c1 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM s CROSS JOIN cuts
        """,
        "rate_counter_wrap": """
            SELECT user_id, prev_ms AS begin_ms, ms AS end_ms,
                   round(CASE WHEN value - pv < 0
                              THEN (value - pv + 1024.0)
                              ELSE (value - pv) END
                         / ((ms - prev_ms) / 1000.0), 6) + 0.0
                     AS value_rate
            FROM (
              SELECT user_id, epoch_ms(ts) AS ms, value,
                     lag(epoch_ms(ts)) OVER w AS prev_ms,
                     lag(value) OVER w AS pv
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts))
            WHERE prev_ms IS NOT NULL
        """,
        "rank_normalize": """
            SELECT event_id, event_type,
                   round(percent_rank() OVER (PARTITION BY event_type
                                              ORDER BY value), 6)
                     AS value_pr
            FROM events
            WHERE value IS NOT NULL AND NOT isnan(value)
        """,
        "winsorize_by_type": """
            WITH cuts AS (
              SELECT event_type,
                     quantile_cont(value, 0.05) AS lo,
                     quantile_cont(value, 0.95) AS hi
              FROM events
              WHERE value IS NOT NULL AND NOT isnan(value)
              GROUP BY 1)
            SELECT e.event_id, e.event_type,
                   round(least(greatest(e.value, c.lo), c.hi), 6)
                     AS value_w,
                   round(c.lo, 6) AS value_lo,
                   round(c.hi, 6) AS value_hi
            FROM events e JOIN cuts c USING (event_type)
        """,
        "robust_zscore": """
            WITH med AS (
              SELECT event_type, quantile_cont(value, 0.5) AS m
              FROM events
              WHERE value IS NOT NULL AND NOT isnan(value)
              GROUP BY 1
            ), mad AS (
              SELECT e.event_type,
                     quantile_cont(abs(e.value - med.m), 0.5) AS d
              FROM events e JOIN med USING (event_type)
              WHERE e.value IS NOT NULL AND NOT isnan(e.value)
              GROUP BY e.event_type
            )
            SELECT e.event_id, e.event_type,
                   CASE WHEN mad.d > 0
                        THEN round(0.6745 * (e.value - med.m) / mad.d, 6)
                   END AS value_rz,
                   coalesce(CASE WHEN mad.d > 0
                   THEN abs(0.6745 * (e.value - med.m) / mad.d) > 3.5 END,
                            FALSE) AS value_outlier
            FROM events e
            JOIN med USING (event_type) JOIN mad USING (event_type)
        """,
        "tpch_q6": """
            SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * CAST(l_discount AS DECIMAL(12,2)))
                        AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate < TIMESTAMP '1996-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "tpch_q4_shape": """
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders o
            WHERE o.o_orderdate >= TIMESTAMP '1995-07-01'
              AND o.o_orderdate < TIMESTAMP '1995-10-01'
              AND EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
            GROUP BY o_orderpriority
        """,
        "value_heatmap": """
            SELECT CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS pos,
                   bin, bin * 50.0 AS bin_lo, (bin + 1) * 50.0 AS bin_hi,
                   count(*) AS n
            FROM (SELECT ts, CAST(floor(value / 50.0) AS BIGINT) AS bin
                  FROM events
                  WHERE value IS NOT NULL AND NOT isnan(value))
            GROUP BY 1, 2
        """,
        "assign_splits": """
            SELECT doc_id, source,
                   CASE WHEN h < 0.98 THEN 'train'
                        WHEN h < 0.99 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id, source,
                         ('0x' || substr(md5('0|' || doc_id::VARCHAR),
                                         1, 8))::BIGINT / 4294967296.0 AS h
                  FROM documents)
        """,
        "bigram_logprob": """
            WITH arr AS (
              SELECT doc_id,
                     list_filter(list_transform(
                         list_filter(string_split_regex(trim(text),
                                                        '\\s+'),
                                     x -> x != ''),
                         x -> regexp_replace(lower(x),
                             '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g')),
                       x -> x != '') AS a
              FROM documents
            ), bg AS (
              SELECT doc_id,
                     unnest(list_transform(
                         generate_series(1, len(a) - 1),
                         i -> a[i] || ' ' || a[i + 1])) AS bg
              FROM arr WHERE len(a) >= 2
            ), c AS (
              SELECT bg, count(*) AS cb FROM bg GROUP BY bg
            ), ctx AS (
              SELECT split_part(bg, ' ', 1) AS w1, sum(cb) AS cc
              FROM c GROUP BY 1
            ), v AS (
              SELECT count(DISTINCT x) AS nv
              FROM (SELECT unnest(a) AS x FROM arr) WHERE x != ''
            )
            SELECT bg.doc_id, count(*) AS n_bigrams,
                   round(avg(log2((c.cb + 1.0) / (ctx.cc + 1.0 * v.nv))),
                         6) AS mean_logprob
            FROM bg JOIN c USING (bg)
            JOIN ctx ON split_part(bg.bg, ' ', 1) = ctx.w1
            CROSS JOIN v
            GROUP BY bg.doc_id
        """,
        "expectations": """
            -- CASTs: DuckDB sum(<int>) is HUGEINT -> float64 in pandas,
            -- which byte-mismatches Spark's int64 under the driver hash.
            -- epoch-ms bounds instead of year(ts): TZ-ambient in both
            -- engines (calendar-2024 UTC = [1704067200000, 1735689600000)).
            WITH agg AS (
              SELECT count(*) AS n_rows,
                     CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS v_null,
                     CAST(sum(CASE WHEN NOT coalesce(value >= 0
                                                AND value < 10000, FALSE)
                              THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
                     CAST(sum(CASE WHEN NOT coalesce(event_type IN
                              ('click','view','signup','purchase','error'),
                              FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_type,
                     CAST(sum(CASE WHEN NOT coalesce(
                              epoch_ms(ts) >= 1704067200000
                              AND epoch_ms(ts) < 1735689600000, FALSE)
                              THEN 1 ELSE 0 END) AS BIGINT) AS v_year
              FROM events
            ), uniq AS (
              SELECT CAST(sum(c) AS BIGINT) AS n_rows,
                     CAST(sum(c - 1) AS BIGINT) AS n_violations
              FROM (SELECT count(*) AS c FROM events GROUP BY event_id)
            )
            SELECT 'value_not_null' AS rule, n_rows,
                   v_null AS n_violations, v_null = 0 AS "pass" FROM agg
            UNION ALL
            SELECT 'value_in_range', n_rows, v_range, v_range = 0 FROM agg
            UNION ALL
            SELECT 'known_event_type', n_rows, v_type, v_type = 0 FROM agg
            UNION ALL
            SELECT 'ts_in_2024', n_rows, v_year, v_year = 0 FROM agg
            UNION ALL
            SELECT 'unique_event_id', n_rows, n_violations,
                   n_violations = 0 FROM uniq
        """,
        "funnel_signup": """
            WITH s1 AS (
              SELECT user_id, min(epoch_ms(ts)) AS t1_ms
              FROM events WHERE event_type = 'signup' GROUP BY user_id
            ), s2 AS (
              SELECT s1.user_id, s1.t1_ms,
                     min(CASE WHEN epoch_ms(c.ts) > s1.t1_ms
                              AND epoch_ms(c.ts) <= s1.t1_ms + 604800000
                              THEN epoch_ms(c.ts) END) AS t2_ms
              FROM s1 LEFT JOIN events c
                ON c.user_id = s1.user_id AND c.event_type = 'click'
              GROUP BY s1.user_id, s1.t1_ms
            ), s3 AS (
              SELECT s2.user_id, s2.t1_ms, s2.t2_ms,
                     min(CASE WHEN epoch_ms(p.ts) > s2.t2_ms
                              AND epoch_ms(p.ts) <= s2.t1_ms + 604800000
                              THEN epoch_ms(p.ts) END) AS t3_ms
              FROM s2 LEFT JOIN events p
                ON p.user_id = s2.user_id AND p.event_type = 'purchase'
              GROUP BY s2.user_id, s2.t1_ms, s2.t2_ms
            )
            SELECT user_id, t1_ms, t2_ms, t3_ms FROM s3
        """,
        "retention_daily": """
            WITH p AS (
              SELECT DISTINCT user_id,
                     CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS d
              FROM events
            ), f AS (
              SELECT user_id, min(d) AS cohort FROM p GROUP BY user_id
            )
            SELECT f.cohort, p.d - f.cohort AS "offset",
                   count(DISTINCT p.user_id) AS n_active
            FROM p JOIN f USING (user_id)
            WHERE p.d - f.cohort <= 30
            GROUP BY 1, 2
        """,
        "corpus_report": """
            -- CASTs: DuckDB sum(<int>) is HUGEINT -> float64 in pandas,
            -- which byte-mismatches Spark's int64 under the driver hash
            WITH per AS (
              SELECT lang, count(*) AS n_docs,
                     CAST(sum(length(text)) AS BIGINT) AS total_chars,
                     CAST(sum(len(regexp_extract_all(text,
                         '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT)
                       AS total_tokens
              FROM documents GROUP BY lang)
            SELECT lang, n_docs, total_chars, total_tokens,
                   round(n_docs / (sum(n_docs) OVER ()) * 100, 6)
                     AS pct_docs
            FROM per
        """,
        "timerange_algebra": """
            WITH spans AS (
              SELECT user_id, event_type,
                     min(epoch_ms(ts)) AS b, max(epoch_ms(ts)) AS e
              FROM events GROUP BY 1, 2
            )
            SELECT a.user_id, a.event_type AS type_a,
                   c.event_type AS type_b,
                   ((  (a.b <= c.b AND c.b <= a.e)
                       AND NOT (a.b <= c.e AND c.e <= a.e))
                    OR ((a.b <= c.e AND c.e <= a.e)
                        AND NOT (a.b <= c.b AND c.b <= a.e))) AS overlaps,
                   (a.b <= c.e AND c.b <= a.e) AS intersects,
                   (a.e < c.b OR a.b > c.e) AS disjoint,
                   (a.b <= c.b AND c.e <= a.e) AS a_contains_b,
                   (c.b <= a.b AND a.e <= c.e) AS a_within_b,
                   CASE WHEN NOT (a.e < c.b OR a.b > c.e)
                        THEN least(a.e, c.e) - greatest(a.b, c.b)
                   END AS intersection_ms,
                   greatest(a.e, c.e) - least(a.b, c.b) AS extents_ms
            FROM spans a JOIN spans c
              ON a.user_id = c.user_id AND a.event_type < c.event_type
        """,
        "chronology": """
            WITH o AS (
              SELECT user_id,
                     CASE WHEN epoch_ms(ts) < lag(epoch_ms(ts)) OVER
                               (PARTITION BY user_id ORDER BY event_id)
                          THEN 1 ELSE 0 END AS inv
              FROM events
            )
            SELECT user_id, count(*) AS n_events,
                   CAST(sum(inv) AS BIGINT) AS n_inversions,
                   CAST(sum(inv) AS BIGINT) = 0 AS is_chronological
            FROM o GROUP BY user_id
        """,
        "bisect_at_time": """
            WITH probes AS (
              SELECT unnest([1706745600000, 1711929600000, 1717200000000,
                             1722470400000, 1727740800000, 1733011200000])
                     AS probe_ms
            ), j AS (
              SELECT e.user_id, p.probe_ms, epoch_ms(e.ts) AS ms,
                     e.event_id, e.value
              FROM events e JOIN probes p ON epoch_ms(e.ts) <= p.probe_ms
            ), r AS (
              SELECT user_id, probe_ms, value,
                     count(*) OVER (PARTITION BY user_id, probe_ms)
                       AS n_at_or_before,
                     row_number() OVER (PARTITION BY user_id, probe_ms
                         ORDER BY ms DESC, event_id DESC) AS rn
              FROM j
            )
            SELECT user_id, probe_ms, n_at_or_before,
                   round(value, 6) AS value_at,
                   greatest(n_at_or_before - 1, 0) AS bisect_pos
            FROM r WHERE rn = 1
        """,
        "size_valid": """
            SELECT event_type, count(*) AS n_events,
                   count(CASE WHEN value IS NOT NULL AND NOT isnan(value)
                              THEN 1 END) AS n_valid,
                   count(*) - count(CASE WHEN value IS NOT NULL
                                         AND NOT isnan(value) THEN 1 END)
                     AS n_invalid
            FROM events GROUP BY event_type
        """,
        "collect_window_1d": """
            SELECT event_id,
                   '1d-' || CAST(CAST(floor(epoch_ms(ts) / 86400000.0)
                                      AS BIGINT) AS VARCHAR) AS "index",
                   CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT)
                     * 86400000 AS begin_ms,
                   (CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) + 1)
                     * 86400000 AS end_ms,
                   epoch_ms(ts) AS t_ms,
                   round(value, 6) AS value
            FROM events
        """,
        "keyed_collections": """
            WITH b AS (
              SELECT event_id, ts, event_type, value,
                     CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS pos
              FROM events
            )
            SELECT '1d-' || CAST(pos AS VARCHAR) || '--' || event_type
                     AS collection_key,
                   '1d-' || CAST(pos AS VARCHAR) AS "index",
                   event_type,
                   count(*) AS n_collected,
                   string_agg(CAST(event_id AS VARCHAR), ','
                              ORDER BY ts, event_id) AS event_ids,
                   round(sum(value), 6) AS sum_value
            FROM b GROUP BY pos, event_type
        """,
    }
    d["image_near_dups"] = f"""
        WITH ph AS ({d["image_phash"]})
        SELECT a.media_id AS id_a, b.media_id AS id_b,
               bit_count(xor(a.ahash, b.ahash)) AS hamming
        FROM ph a JOIN ph b ON a.media_id < b.media_id
        WHERE bit_count(xor(a.ahash, b.ahash)) <= 2
    """
    # FLAC row: lossless, same samples by construction, same oracle
    d["audio_fingerprint_flac"] = d["audio_fingerprint"]
    # AIFF is PCM (and the 24-bit variant a uniform <<8 gain, which
    # the energy-delta-SIGN fingerprint is invariant to), so the
    # unchanged WAV oracle replays it bit-for-bit
    d["audio_fingerprint_aiff"] = d["audio_fingerprint"]
    d["feed_entries"] = r"""
        -- both wire formats' normalized entries rebuilt symbolically
        -- from the doc_id%3 scaffold (junk contributes zero rows)
        WITH b AS (SELECT doc_id, doc_id % 3 AS m, text
                   FROM documents)
        SELECT doc_id, 'rss' AS feed_type,
               'F ' || md5(text||'&ft') AS feed_title,
               0 AS entry_idx, 't1 ' || md5(text||'&f1') AS title,
               'http://ex.com/1' AS link,
               'Mon, 01 Jan 2024 00:00:00 GMT' AS published,
               'g ' || md5(text||'&f2') AS entry_id,
               'd ' || md5(text||'&f3') AS summary
        FROM b WHERE m = 0
        UNION ALL
        SELECT doc_id, 'rss', 'F ' || md5(text||'&ft'), 1,
               't2 ' || md5(text||'&f4'), 'http://ex.com/2',
               NULL, NULL, NULL
        FROM b WHERE m = 0
        UNION ALL
        SELECT doc_id, 'atom', 'AF ' || md5(text||'&ft'), 0,
               'e1 ' || md5(text||'&f1'), 'http://a.com/1',
               '2024-01-01T00:00:00Z', 'i ' || md5(text||'&f2'),
               's ' || md5(text||'&f3')
        FROM b WHERE m = 1
        UNION ALL
        SELECT doc_id, 'atom', 'AF ' || md5(text||'&ft'), 1,
               'e2 ' || md5(text||'&f4'), 'http://a.com/2',
               NULL, NULL, NULL
        FROM b WHERE m = 1
    """
    d["code_corpus_pipeline"] = r"""
        -- the whole chain replayed over the same composed text:
        -- detection CASE -> permissive filter -> list reductions ->
        -- autogen drop -> per-license rollup
        WITH w AS (
          SELECT doc_id,
                 CASE doc_id % 10
                   WHEN 0 THEN 'SPDX-License-Identifier: MIT'
                               || chr(10)
                   WHEN 1 THEN
                     'SPDX-License-Identifier: GPL-3.0-only'
                     || chr(10)
                   WHEN 2 THEN 'Apache License' || chr(10)
                               || '   Version 2.0' || chr(10)
                   WHEN 3 THEN 'MIT License' || chr(10)
                   WHEN 4 THEN 'GNU General Public License'
                               || chr(10)
                   WHEN 5 THEN 'Mozilla Public License' || chr(10)
                   WHEN 6 THEN 'Redistribution and use in source '
                               || 'and binary forms' || chr(10)
                   WHEN 7 THEN 'This is free and unencumbered '
                               || 'software' || chr(10)
                   WHEN 8 THEN 'GNU Lesser General Public License'
                               || chr(10)
                   ELSE '' END
                 || '#!/usr/bin/env python' || chr(10) || '# mod '
                 || md5(text||'&cp1')
                 || CASE WHEN doc_id % 7 = 0 THEN ' @generated'
                         ELSE '' END
                 || chr(10) || 'x = 1' || chr(10) || '// note '
                 || md5(text||'&cp2') || chr(10) || 'tail ' || text
                 AS t
          FROM documents
        ),
        x AS (
          SELECT doc_id, t,
                 regexp_extract(substr(t, 1, 4096),
                   'SPDX-License-Identifier:[ \t]*([A-Za-z0-9.+-]+)',
                   1) AS spdx,
                 substr(t, 1, 4096) AS head
          FROM w
        ),
        lic AS (
          SELECT doc_id, t,
                 CASE WHEN spdx <> '' THEN spdx ELSE
                   CASE
                     WHEN contains(head, 'Apache License')
                          AND contains(head, 'Version 2.0')
                       THEN 'Apache-2.0'
                     WHEN contains(head, 'MIT License') OR
                          contains(head, 'Permission is hereby '
                            || 'granted, free of charge')
                       THEN 'MIT'
                     WHEN contains(head,
                         'GNU Affero General Public License')
                       THEN 'AGPL-3.0'
                     WHEN contains(head,
                         'GNU Lesser General Public License')
                       THEN 'LGPL-3.0'
                     WHEN contains(head,
                         'GNU General Public License')
                       THEN 'GPL-3.0'
                     WHEN contains(head, 'Mozilla Public License')
                       THEN 'MPL-2.0'
                     WHEN contains(head, 'Redistribution and use '
                         || 'in source and binary forms')
                       THEN 'BSD-3-Clause'
                     WHEN contains(head, 'This is free and '
                         || 'unencumbered software')
                       THEN 'Unlicense'
                   END
                 END AS license
          FROM x
        ),
        f AS (
          SELECT license,
                 len(string_split(t, chr(10))) AS n_lines,
                 len(list_filter(string_split(t, chr(10)),
                     x -> regexp_matches(x, '(?m)^[ \t]*'
                       || '(#|//|/\*|\*[ \t*]|--[ \t]|;;|<!--)')))
                     AS n_comments,
                 len(regexp_extract_all(t,
                     '[A-Za-z0-9+/=]{64,}')) AS n_blobs,
                 regexp_matches(t, '(?i)auto[- ]?generated'
                   || '|do not edit|generated by|@generated'
                   || '|autogenerated') AS autogen
          FROM lic
          WHERE coalesce(license IN ('MIT','Apache-2.0',
                  'BSD-2-Clause','BSD-3-Clause','ISC','Unlicense',
                  '0BSD','Zlib','CC0-1.0'), false)
        )
        SELECT license, COUNT(*) AS n_files,
               CAST(SUM(n_lines) AS BIGINT) AS total_lines,
               CAST(SUM(n_comments) AS BIGINT) AS total_comments,
               CAST(SUM(n_blobs) AS BIGINT) AS total_blobs
        FROM f WHERE NOT autogen
        GROUP BY license
    """
    d["bucketed_join"] = r"""
        -- the bucketed layout is a physical-plan property, not a
        -- semantic one: the oracle is the plain join, revenue on
        -- DECIMAL(18,2) so both engines add exactly
        SELECT c.c_mktsegment,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS revenue,
               COUNT(*) AS n_orders
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
    """
    d["csv_table_extract"] = r"""
        -- every decoded record rebuilt symbolically: the quoted
        -- fields decode to known bytes, the blank line drops, the
        -- NOT_INT field is NULL under PERMISSIVE
        SELECT doc_id, 0 AS row_idx, 'r0' AS name,
               CAST(doc_id % 100 AS INTEGER) AS qty,
               1.5 AS price,
               'h, ' || md5(text||'&t1') AS note
        FROM documents
        UNION ALL
        SELECT doc_id, 1, 'r1', 7, 2.25,
               'a "' || md5(text||'&t2') || '" z'
        FROM documents
        UNION ALL
        SELECT doc_id, 2, 'bad', NULL, 0.5, 'plain'
        FROM documents
    """
    d["image_exif"] = r"""
        -- the writer-twin scaffold is fully determined by
        -- (doc_id, text): rebuild every tag, rationals dividing to
        -- IEEE doubles identically in both engines
        SELECT doc_id AS media_id,
               'Cam ' || md5(text||'&ex') AS make,
               'M' || CAST(doc_id % 5 AS VARCHAR) AS model,
               CAST(doc_id % 8 + 1 AS INTEGER) AS orientation,
               '2024:01:02 03:04:05' AS datetime,
               1.0 / (50 + doc_id % 200) AS exposure_time,
               CAST(100 + (doc_id % 16) * 25 AS INTEGER) AS iso,
               (doc_id % 90 + 10) / 2.0 AS focal_length
        FROM documents
    """
    d["subtitle_cues"] = r"""
        -- every cue rebuilt symbolically: text bytes from the md5
        -- salts, start/end as INTEGER millis from the same doc_id
        -- arithmetic the scaffold used for its lpad'ed seconds
        WITH b AS (SELECT doc_id, doc_id % 3 AS m,
                          doc_id % 50 AS sec, text
                   FROM documents)
        SELECT doc_id, 'srt' AS fmt, 0 AS cue_idx,
               60000 + sec * 1000 + 250 AS start_ms,
               60000 + (sec + 5) * 1000 + 750 AS end_ms,
               md5('cue a ' || md5(text||'&v1') || chr(10)
                   || 'line2 ' || md5(text||'&v2'))
                   AS text_digest,
               77 AS n_chars
        FROM b WHERE m = 0
        UNION ALL
        SELECT doc_id, 'srt', 1, 36000000, 36002000,
               md5('cue b ' || md5(text||'&v3')), 38
        FROM b WHERE m = 0
        UNION ALL
        SELECT doc_id, 'vtt', 0,
               60000 + sec * 1000 + 100,
               60000 + (sec + 5) * 1000 + 900,
               md5('va ' || md5(text||'&v4')), 35
        FROM b WHERE m = 1
        UNION ALL
        SELECT doc_id, 'vtt', 1, 7000, 9000,
               md5('vb ' || md5(text||'&v5') || ' tail'), 40
        FROM b WHERE m = 1
    """
    d["sitemap_urls"] = r"""
        WITH b AS (SELECT doc_id, doc_id % 3 AS m, text
                   FROM documents)
        SELECT doc_id, 'urlset' AS kind, 0 AS entry_idx,
               'http://ex.com/p/' || md5(text||'&s1') AS loc,
               '2024-02-03' AS lastmod, 'daily' AS changefreq,
               '0.8' AS priority
        FROM b WHERE m = 0
        UNION ALL
        SELECT doc_id, 'urlset', 1,
               'http://ex.com/p/' || md5(text||'&s2'),
               NULL, NULL, NULL
        FROM b WHERE m = 0
        UNION ALL
        SELECT doc_id, 'index', 0,
               'http://ex.com/sm/' || md5(text||'&s1') || '.xml',
               '2024-01-02', NULL, NULL
        FROM b WHERE m = 1
        UNION ALL
        SELECT doc_id, 'index', 1,
               'http://ex.com/sm/' || md5(text||'&s2') || '.xml',
               NULL, NULL, NULL
        FROM b WHERE m = 1
    """
    d["document_router_text"] = r"""
        -- label + raw bytes of the four UTF-8 routing branches,
        -- rebuilt symbolically from the doc_id%4 scaffold
        WITH b AS (SELECT doc_id, doc_id % 4 AS m, text
                   FROM documents),
        t AS (
          SELECT doc_id, m,
                 CASE m
                   WHEN 0 THEN '\documentclass{article}' || chr(10)
                     || '\begin{document}' || chr(10) || 'body '
                     || md5(text||'&rt0') || chr(10)
                     || '\end{document}'
                   WHEN 1 THEN
                     '{"cells":[{"cell_type":"raw","source":"src '
                     || md5(text||'&rt1') || '"}],"nbformat":4}'
                   WHEN 2 THEN '# Title ' || md5(text||'&rt2')
                     || chr(10) || chr(10) || '```py' || chr(10)
                     || 'x' || chr(10) || '```' || chr(10) || 'body'
                   ELSE 'plain prose ' || md5(text||'&rt3')
                 END AS txt
          FROM b)
        SELECT doc_id,
               CASE m WHEN 0 THEN 'latex' WHEN 1 THEN 'ipynb'
                      WHEN 2 THEN 'markdown' ELSE 'text' END
                   AS format,
               md5(txt) AS text_digest, 1 AS n_units
        FROM t
    """
    d["audio_near_dups"] = f"""
        WITH fp AS ({d["audio_fingerprint"]})
        SELECT a.media_id AS id_a, b.media_id AS id_b,
               bit_count(xor(a.fingerprint, b.fingerprint)) AS hamming
        FROM fp a JOIN fp b ON a.media_id < b.media_id
        WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= 2
    """
    d["calibrate_scores"] = f"""
        WITH fit AS ({d["isotonic_calibration"]}),
        base AS (
          SELECT doc_id, n_chars::DOUBLE AS score FROM documents
        ), j AS (
          SELECT b.doc_id AS doc_id, b.score AS score,
                 f.rate_iso AS rate_iso,
                 CASE WHEN f.score_lo <= round(b.score, 6)
                      THEN f.bin ELSE -1 END AS k
          FROM base b JOIN fit f
            ON f.score_lo <= round(b.score, 6) OR f.bin = 0
        )
        SELECT doc_id, score,
               arg_max(rate_iso, k) AS rate_calibrated
        FROM j GROUP BY 1, 2
    """
    d["pdf_text_extract"] = """
        -- mirror of _synth_pdf: page p of doc carries lines
        -- md5(text||'&p'||p||'&l'||l) for l in 0..1+doc_id%3, joined
        -- by newline; pages p in 0..doc_id%3.  The Spark side round-
        -- trips these through REAL PDF bytes (raw + Flate streams,
        -- literal/hex/TJ show forms rotating by doc_id).
        WITH pg AS (
          SELECT doc_id, text, CAST(gp.p AS INT) AS page_no
          FROM documents CROSS JOIN generate_series(0, 2) gp(p)
          WHERE gp.p <= doc_id % 3
        ), ln AS (
          SELECT doc_id, page_no,
                 string_agg(md5(text || '&p'
                                || CAST(page_no AS VARCHAR) || '&l'
                                || CAST(gl.l AS VARCHAR)), chr(10)
                            ORDER BY gl.l) AS text
          FROM pg CROSS JOIN generate_series(0, 3) gl(l)
          WHERE gl.l <= 1 + doc_id % 3
          GROUP BY doc_id, page_no
        )
        SELECT doc_id, page_no, text FROM ln
    """
    d["stream_chat_ingest"] = """
        -- batch twin of the streaming chat gate: one conversation
        -- class per doc_id%50, min-doc_id winner per class, the
        -- class JSON and its ChatML rendering rebuilt symbolically
        WITH cls AS (
          SELECT doc_id % 50 AS k, MIN(doc_id) AS ord
          FROM documents GROUP BY 1
        ), j AS (
          SELECT k, ord,
                 '{"messages":[{"role":"user","content":"q '
                 || md5('cls' || CAST(k AS VARCHAR) || '&u')
                 || '"},{"role":"assistant","content":"a '
                 || md5('cls' || CAST(k AS VARCHAR) || '&a')
                 || '"}]}' AS conv,
                 '<|im_start|>user' || chr(10) || 'q '
                 || md5('cls' || CAST(k AS VARCHAR) || '&u')
                 || '<|im_end|>' || chr(10)
                 || '<|im_start|>assistant' || chr(10) || 'a '
                 || md5('cls' || CAST(k AS VARCHAR) || '&a')
                 || '<|im_end|>' AS rendered
          FROM cls
        )
        SELECT md5(conv) AS digest, ord, 2 AS n_turns,
               1 AS n_user, 1 AS n_assistant, true AS alternates,
               md5(rendered) AS render_digest
        FROM j
    """
    d["stream_tar_ingest"] = """
        -- batch twin of the streaming gate: the _synth_tar member
        -- recipe, min-order winner per distinct member content (the
        -- single-char cls members are the planted cross-shard dupes)
        WITH s AS (
          SELECT doc_id, text, CAST(g.s AS INT) AS s
          FROM documents CROSS JOIN generate_series(0, 2) g(s)
          WHERE g.s <= doc_id % 3
        ), m AS (
          SELECT doc_id, s, 'txt' AS ext,
                 md5(text || '&t' || CAST(s AS VARCHAR)) AS content
          FROM s
          UNION ALL
          SELECT doc_id, s, 'json',
                 '{"k":"' || md5(text || '&j' || CAST(s AS VARCHAR))
                 || '"}'
          FROM s
          UNION ALL
          SELECT doc_id, s, 'cls',
                 CAST((doc_id + s) % 10 AS VARCHAR)
          FROM s WHERE (doc_id + s) % 2 = 0
        )
        SELECT md5(content) AS digest,
               min(doc_id * 3 + s) AS ord,
               arg_min(ext, doc_id * 3 + s) AS ext,
               CAST(arg_min(length(content), doc_id * 3 + s)
                    AS BIGINT) AS n_bytes,
               arg_min(content, doc_id * 3 + s) AS content
        FROM m GROUP BY 1
    """
    d["pdf_triage"] = """
        -- encrypted docs (doc_id%4=0) flag true with NULL title;
        -- n_pages counts from the plaintext pages tree either way
        SELECT doc_id, doc_id % 4 = 0 AS encrypted,
               CASE WHEN doc_id % 4 = 0 THEN NULL
                    ELSE md5(text || '&ti') END AS title,
               CAST(1 + doc_id % 3 AS INT) AS n_pages
        FROM documents
    """
    d["audio_id3_tags"] = """
        SELECT doc_id,
               '2.' || CAST(2 + doc_id % 3 AS VARCHAR) AS version,
               md5(text || '&it') AS title,
               'artist-' || CAST(doc_id % 7 AS VARCHAR) AS artist,
               substr(md5(text || '&ia'), 1, 16) AS album,
               CAST(1000 + doc_id % 977 AS BIGINT) AS length_ms
        FROM documents
    """
    d["bm25_topk"] = """
        -- full BM25 replay: same token law as tfidf_top_terms, the
        -- Lucene non-negative idf, the exact expression shape of the
        -- Spark tf-normalization ((tf*2.2)/(tf + 1.2*(0.25 +
        -- 0.75*(dl/avgdl)))), round-6 scores, doc-id tiebreak
        WITH tk0 AS (
          SELECT doc_id, list_filter(list_transform(
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x != ''),
                   x -> regexp_replace(lower(x),
                       '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g')),
                 x -> x != '') AS tks
          FROM documents
        ), st AS (
          SELECT count(*) AS n,
                 sum(len(tks))::DOUBLE / count(*) AS avgdl
          FROM tk0
        ), tf AS (
          SELECT doc_id, len(tks) AS dl, x AS tok, count(*) AS tf
          FROM (SELECT doc_id, tks, unnest(tks) AS x FROM tk0)
          GROUP BY doc_id, len(tks), x
        ), qt AS (
          SELECT doc_id AS query_id,
                 unnest(list_distinct(tks[1:3])) AS term
          FROM tk0 WHERE doc_id % 20 = 0
        ), dfreq AS (
          SELECT tok, count(*) AS df FROM tf
          WHERE tok IN (SELECT DISTINCT term FROM qt)
          GROUP BY tok
        ), sc AS (
          SELECT qt.query_id AS query_id, tf.doc_id AS doc_id,
                 round(sum(
                   ln(1 + (st.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * ((tf.tf * 2.2)
                      / (tf.tf + 1.2 * (0.25
                                        + 0.75 * (tf.dl / st.avgdl))))
                 ), 6) AS bm25,
                 CAST(count(*) AS INT) AS n_matched
          FROM qt
          JOIN tf ON tf.tok = qt.term
          JOIN dfreq ON dfreq.tok = tf.tok
          CROSS JOIN st
          GROUP BY qt.query_id, tf.doc_id
        )
        SELECT query_id,
               CAST(row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY bm25 DESC, doc_id) AS INT) AS rank,
               doc_id, bm25, n_matched
        FROM sc
        QUALIFY rank <= 10
    """
    d["hard_negatives_bm25"] = """
        -- the bm25_topk replay with label exclusion: candidates with
        -- the anchor's lang (or the anchor itself) never rank
        WITH tk0 AS (
          SELECT doc_id, lang, list_filter(list_transform(
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x != ''),
                   x -> regexp_replace(lower(x),
                       '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g')),
                 x -> x != '') AS tks
          FROM documents
        ), st AS (
          SELECT count(*) AS n,
                 sum(len(tks))::DOUBLE / count(*) AS avgdl
          FROM tk0
        ), tf AS (
          SELECT doc_id, lang, len(tks) AS dl, x AS tok,
                 count(*) AS tf
          FROM (SELECT doc_id, lang, tks, unnest(tks) AS x FROM tk0)
          GROUP BY doc_id, lang, len(tks), x
        ), qt AS (
          SELECT doc_id AS query_id, lang AS qlang,
                 unnest(list_distinct(tks[1:3])) AS term
          FROM tk0 WHERE doc_id % 20 = 0
        ), dfreq AS (
          SELECT tok, count(*) AS df FROM tf
          WHERE tok IN (SELECT DISTINCT term FROM qt)
          GROUP BY tok
        ), sc AS (
          SELECT qt.query_id AS anchor_id, tf.doc_id AS neg_id,
                 round(sum(
                   ln(1 + (st.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
                   * ((tf.tf * 2.2)
                      / (tf.tf + 1.2 * (0.25
                                        + 0.75 * (tf.dl / st.avgdl))))
                 ), 6) AS bm25,
                 CAST(count(*) AS INT) AS n_matched
          FROM qt
          JOIN tf ON tf.tok = qt.term
                 AND tf.lang != qt.qlang
                 AND tf.doc_id != qt.query_id
          JOIN dfreq ON dfreq.tok = tf.tok
          CROSS JOIN st
          GROUP BY qt.query_id, tf.doc_id
        )
        SELECT anchor_id,
               CAST(row_number() OVER (
                 PARTITION BY anchor_id
                 ORDER BY bm25 DESC, neg_id) AS INT) AS neg_rank,
               neg_id, bm25, n_matched
        FROM sc
        QUALIFY neg_rank <= 5
    """
    d["decontam_retrieval"] = f"""
        -- the bm25_topk replay thresholded at 1.0, grouped per
        -- training doc with the strongest-hit tiebreak (max bm25,
        -- ties -> smaller query_id)
        WITH hits AS MATERIALIZED ({d["bm25_topk"]}),
        f AS (SELECT * FROM hits WHERE bm25 >= 1.0),
        g AS (
          SELECT doc_id, CAST(count(*) AS INT) AS n_queries_hit,
                 max(bm25) AS max_bm25
          FROM f GROUP BY doc_id
        ), r AS (
          SELECT doc_id, query_id,
                 row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY bm25 DESC, query_id) AS rn
          FROM f
        )
        SELECT g.doc_id AS doc_id, g.n_queries_hit AS n_queries_hit,
               g.max_bm25 AS max_bm25, r.query_id AS top_query_id
        FROM g JOIN r ON r.doc_id = g.doc_id AND r.rn = 1
    """
    d["docx_text_extract"] = """
        -- mirror of _synth_docx: base paragraphs md5(text||'&dx'||p)
        -- for p in 0..1+doc_id%3 joined by newline, then the rotating
        -- TAB / line-break paragraph (doc_id%4), then the two table
        -- cells (doc_id%5=0).  The Spark side round-trips these
        -- through REAL OPC zip + WordprocessingML XML.
        WITH base AS (
          SELECT doc_id, text,
                 string_agg(md5(text || '&dx'
                                || CAST(g.p AS VARCHAR)), chr(10)
                            ORDER BY g.p) AS t,
                 CAST(2 + doc_id % 3 AS INT) AS nb
          FROM documents CROSS JOIN generate_series(0, 3) g(p)
          WHERE g.p <= 1 + doc_id % 3
          GROUP BY doc_id, text
        )
        SELECT doc_id,
               t || CASE
                 WHEN doc_id % 4 = 0 THEN chr(10) || md5(text||'&tab')
                      || chr(9) || md5(text||'&tab2')
                 WHEN doc_id % 4 = 1 THEN chr(10) || md5(text||'&br')
                      || chr(10) || md5(text||'&br2')
                 ELSE '' END
                 || CASE WHEN doc_id % 5 = 0 THEN
                      chr(10) || md5(text||'&tc0')
                      || chr(10) || md5(text||'&tc1')
                    ELSE '' END AS text,
               CAST(nb
                    + CASE WHEN doc_id % 4 IN (0, 1) THEN 1 ELSE 0 END
                    + CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 0 END
                    AS INT) AS n_paragraphs
        FROM base
    """
    d["docx_quality_pipeline"] = """
        -- the docx_text_extract recipe feeding the UNCHANGED gopher
        -- metric SQL (same expressions as the gopher_quality row)
        WITH base AS (
          SELECT doc_id, text,
                 string_agg(md5(text || '&dx'
                                || CAST(g.p AS VARCHAR)), chr(10)
                            ORDER BY g.p) AS t
          FROM documents CROSS JOIN generate_series(0, 3) g(p)
          WHERE g.p <= 1 + doc_id % 3
          GROUP BY doc_id, text
        ), dx AS (
          SELECT doc_id,
                 t || CASE
                   WHEN doc_id % 4 = 0 THEN chr(10)
                        || md5(text||'&tab') || chr(9)
                        || md5(text||'&tab2')
                   WHEN doc_id % 4 = 1 THEN chr(10)
                        || md5(text||'&br') || chr(10)
                        || md5(text||'&br2')
                   ELSE '' END
                   || CASE WHEN doc_id % 5 = 0 THEN
                        chr(10) || md5(text||'&tc0')
                        || chr(10) || md5(text||'&tc1')
                      ELSE '' END AS text
          FROM base
        ), t AS (
          SELECT doc_id, text,
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x != '') AS w,
                 string_split(text, chr(10)) AS ls
          FROM dx
        ), m AS (
          SELECT doc_id, len(w) AS n_words,
            length(regexp_replace(text, '\\s+', '', 'g'))
              / greatest(len(w), 1) AS awl,
            CAST(len(regexp_extract_all(text, '#'))
                 + len(regexp_extract_all(text, '…|\\.\\.\\.'))
                 AS DOUBLE) / greatest(len(w), 1) AS symr,
            CAST(len(list_filter(w,
                 x -> regexp_matches(x, '[A-Za-z]')))
                 AS DOUBLE) / greatest(len(w), 1) AS alphaf,
            len(list_filter(list_transform(w,
                 x -> regexp_replace(lower(x),
                     '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g')),
                 x -> x IN ('the','be','to','of','and','that',
                            'have','with'))) AS stop_hits,
            CAST(len(list_filter(ls,
                 l -> regexp_matches(trim(l), '^[-*•‣▪]')))
                 AS DOUBLE) / greatest(len(ls), 1) AS bulletf,
            CAST(len(list_filter(ls,
                 l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$')))
                 AS DOUBLE) / greatest(len(ls), 1) AS ellf
          FROM t
        )
        SELECT doc_id, n_words,
               round(awl, 6) AS avg_word_len,
               round(symr, 6) AS symbol_ratio,
               round(alphaf, 6) AS alpha_word_frac,
               stop_hits AS stopword_hits,
               round(bulletf, 6) AS bullet_line_frac,
               round(ellf, 6) AS ellipsis_line_frac,
               (n_words BETWEEN 50 AND 100000)
                 AND awl BETWEEN 3.0 AND 10.0
                 AND symr < 0.1 AND alphaf > 0.8
                 AND stop_hits >= 2 AND bulletf < 0.9
                 AND ellf < 0.3 AS gopher_pass
        FROM m
    """
    d["odt_text_extract"] = """
        -- mirror of _synth_odt: heading md5(text||'&oh'), paragraphs
        -- md5(text||'&op'||p) for p in 0..1+doc_id%3, then the
        -- rotating double-space / tab / line-break paragraph
        WITH base AS (
          SELECT doc_id, text,
                 string_agg(md5(text || '&op'
                                || CAST(g.p AS VARCHAR)), chr(10)
                            ORDER BY g.p) AS t,
                 CAST(3 + doc_id % 3 AS INT) AS nb
          FROM documents CROSS JOIN generate_series(0, 3) g(p)
          WHERE g.p <= 1 + doc_id % 3
          GROUP BY doc_id, text
        )
        SELECT doc_id,
               md5(text || '&oh') || chr(10) || t || CASE
                 WHEN doc_id % 4 = 0 THEN chr(10) || md5(text||'&os1')
                      || '  ' || md5(text||'&os2')
                 WHEN doc_id % 4 = 1 THEN chr(10) || md5(text||'&ot1')
                      || chr(9) || md5(text||'&ot2')
                 WHEN doc_id % 4 = 2 THEN chr(10) || md5(text||'&ob1')
                      || chr(10) || md5(text||'&ob2')
                 ELSE '' END AS text,
               CAST(nb + CASE WHEN doc_id % 4 < 3 THEN 1 ELSE 0 END
                    AS INT) AS n_paragraphs
        FROM base
    """
    d["document_router"] = """
        -- closed form of the 7-way rotation: formats by doc_id%7,
        -- text per the format's synthesis recipe; the html branch
        -- returns the RAW page (stripping is a downstream stage),
        -- binary junk labels unknown with NULL text
        SELECT doc_id,
               CASE doc_id % 7
                 WHEN 0 THEN 'pdf' WHEN 1 THEN 'docx'
                 WHEN 2 THEN 'epub' WHEN 3 THEN 'odt'
                 WHEN 4 THEN 'rtf' WHEN 5 THEN 'html'
                 ELSE 'unknown' END AS format,
               CASE doc_id % 7
                 WHEN 2 THEN md5(text||'&drt') || chr(10)
                             || md5(text||'&drp')
                 WHEN 5 THEN '<html><body>' || md5(text||'&dr')
                             || '</body></html>'
                 WHEN 6 THEN NULL
                 ELSE md5(text||'&dr') END AS text,
               CAST(CASE WHEN doc_id % 7 = 6 THEN 0 ELSE 1 END
                    AS INT) AS n_units
        FROM documents
    """
    d["rtf_text_extract"] = """
        -- mirror of _synth_rtf: paragraphs md5(text||'&rp'||p) for
        -- p in 0..1+doc_id%3, then the rotating tab / line-break /
        -- e-acute / euro paragraph; the \\line variant's internal
        -- newline makes it count as two paragraphs under the
        -- newline-segment law
        WITH base AS (
          SELECT doc_id, text,
                 string_agg(md5(text || '&rp'
                                || CAST(g.p AS VARCHAR)), chr(10)
                            ORDER BY g.p) AS t,
                 CAST(2 + doc_id % 3 AS INT) AS nb
          FROM documents CROSS JOIN generate_series(0, 3) g(p)
          WHERE g.p <= 1 + doc_id % 3
          GROUP BY doc_id, text
        )
        SELECT doc_id,
               t || chr(10) || CASE
                 WHEN doc_id % 4 = 0 THEN md5(text||'&rt1')
                      || chr(9) || md5(text||'&rt2')
                 WHEN doc_id % 4 = 1 THEN md5(text||'&rb1')
                      || chr(10) || md5(text||'&rb2')
                 WHEN doc_id % 4 = 2 THEN chr(233) || md5(text||'&re')
                 ELSE chr(8364) || md5(text||'&ru') END AS text,
               CAST(nb + CASE WHEN doc_id % 4 = 1 THEN 2 ELSE 1 END
                    AS INT) AS n_paragraphs
        FROM base
    """
    d["epub_text_extract"] = """
        -- mirror of _synth_epub in SPINE order: chapter c = title
        -- md5(text||'&et'||c) + paragraphs md5(text||'&ec'||c||'&'||k)
        -- joined by newline; two-chapter docs are stored REVERSED in
        -- the zip, so matching chapter_no proves spine ordering
        SELECT doc_id, CAST(g.c AS INT) AS chapter_no,
               md5(text || '&et' || CAST(g.c AS VARCHAR)) || chr(10)
               || md5(text || '&ec' || CAST(g.c AS VARCHAR) || '&0')
               || chr(10)
               || md5(text || '&ec' || CAST(g.c AS VARCHAR) || '&1')
                 AS text
        FROM documents CROSS JOIN generate_series(0, 1) g(c)
        WHERE g.c <= doc_id % 2
    """
    d["pdf_info"] = """
        SELECT doc_id, md5(text || '&ti') AS title,
               'author-' || CAST(doc_id % 5 AS VARCHAR) AS author,
               CAST(1 + doc_id % 3 AS INT) AS n_pages
        FROM documents
    """
    d["pdf_page_stats"] = """
        -- closed form of the synthesis recipe: n_pages = 1+doc_id%3
        -- pages of n_lines = 2+doc_id%3 32-char lines joined by
        -- newline -> 33*n_lines - 1 chars per page
        SELECT doc_id,
               CAST(1 + doc_id % 3 AS BIGINT) AS n_pages,
               CAST((1 + doc_id % 3)
                    * (33 * (2 + doc_id % 3) - 1) AS BIGINT)
                 AS n_chars,
               CAST((1 + doc_id % 3) * (2 + doc_id % 3) AS BIGINT)
                 AS n_lines
        FROM documents
    """
    d["tar_shard_ingest"] = """
        -- mirror of _synth_tar: sample s of doc carries txt =
        -- md5(text||'&t'||s), json = {"k":"md5(...&j...)"}, and cls
        -- = (doc_id+s)%10 only when (doc_id+s)%2 = 0
        WITH s AS (
          SELECT doc_id, text, CAST(g.s AS INT) AS s
          FROM documents CROSS JOIN generate_series(0, 2) g(s)
          WHERE g.s <= doc_id % 3
        ), m AS (
          SELECT doc_id, s, 'txt' AS ext,
                 md5(text || '&t' || CAST(s AS VARCHAR)) AS content
          FROM s
          UNION ALL
          SELECT doc_id, s, 'json',
                 '{"k":"' || md5(text || '&j' || CAST(s AS VARCHAR))
                 || '"}'
          FROM s
          UNION ALL
          SELECT doc_id, s, 'cls',
                 CAST((doc_id + s) % 10 AS VARCHAR)
          FROM s WHERE (doc_id + s) % 2 = 0
        )
        SELECT doc_id,
               CAST(doc_id AS VARCHAR) || '-' || CAST(s AS VARCHAR)
                 AS sample_key,
               ext, CAST(length(content) AS BIGINT) AS n_bytes,
               content
        FROM m
    """
    # zip twin: _synth_zipshard writes the SAME member recipe into a
    # zip container, so the tar oracle replays unchanged
    d["zip_shard_ingest"] = d["tar_shard_ingest"]
    d["tar_sample_pairing"] = """
        SELECT doc_id,
               CAST(doc_id AS VARCHAR) || '-' || CAST(g.s AS VARCHAR)
                 AS sample_key,
               CAST(CASE WHEN (doc_id + g.s) % 2 = 0 THEN 3 ELSE 2
                    END AS INT) AS n_parts,
               md5(text || '&t' || CAST(g.s AS VARCHAR)) AS txt,
               (doc_id + g.s) % 2 = 0 AS has_cls
        FROM documents CROSS JOIN generate_series(0, 2) g(s)
        WHERE g.s <= doc_id % 3
    """
    d["zip_sample_pairing"] = d["tar_sample_pairing"]
    # PNG row: same pixels by construction (the encode->decode roundtrip
    # is the thing under test), so the PPM oracle replays it verbatim
    d["image_phash_png"] = d["image_phash"]
    d["image_phash_png_adam7"] = d["image_phash"]
    d["image_phash_jpeg_lossless"] = d["image_phash"]
    d["image_phash_bmp_rle8"] = d["image_phash"]
    d["image_phash_tiff"] = d["image_phash"]
    d["tar_multimodal_pipeline"] = f"""
        -- the unchanged phash replay joined with the caption recipe:
        -- tar framing + pairing + PNG decode are all under test on
        -- the Spark side, the pixels and caption are not
        WITH ph AS ({d["image_phash"]})
        SELECT ph.media_id AS media_id, ph.width AS width,
               ph.height AS height, ph.ahash AS ahash,
               ph.dhash AS dhash, md5(d.text || '&wt') AS txt
        FROM ph JOIN documents d ON d.doc_id = ph.media_id
    """
    d["image_phash_gif"] = d["image_phash"]
    # palette row: PLTE holds the same pixels, indices are the identity
    d["image_phash_png_palette"] = d["image_phash"]
    # BMP is lossless: same pixels by construction, same oracle
    d["image_phash_bmp"] = d["image_phash"]
    d["image_resize"] = """
        -- source pixel byte j of the 8x8 synthetic PPM (j = 3*(y*8+x)+c)
        -- comes from digest j//16 = md5(text || '#' || d), hex offset
        -- j%16; box 4x4 = floor(2x2-block sum / 4); nearest 2x2 reads
        -- the pixel-center source sx = (2*xo+1)*8 // 4
        WITH px AS (
          SELECT doc_id, g.j AS j,
                 ('0x' || substr(md5(text || '#' ||
                    CAST(g.j // 16 AS VARCHAR)),
                    2 * (g.j % 16) + 1, 2))::BIGINT AS b
          FROM documents CROSS JOIN generate_series(0, 191) g(j)
        ), src AS (
          SELECT doc_id, j % 3 AS c, (j // 3) % 8 AS x, j // 24 AS y, b
          FROM px
        ), box AS (
          SELECT doc_id, 'box' AS method,
                 CAST(3 * ((y // 2) * 4 + (x // 2)) + c AS INT) AS p,
                 CAST(sum(b) // 4 AS BIGINT) AS v
          FROM src GROUP BY doc_id, y // 2, x // 2, c
        ), near AS (
          SELECT doc_id, 'nearest' AS method,
                 CAST(3 * (ys.yo * 2 + xs.xo) + c AS INT) AS p,
                 CAST(b AS BIGINT) AS v
          FROM src
          JOIN (VALUES (0), (1)) xs(xo)
            ON x = ((2 * xs.xo + 1) * 8) // 4
          JOIN (VALUES (0), (1)) ys(yo)
            ON y = ((2 * ys.yo + 1) * 8) // 4
        )
        SELECT doc_id AS media_id, method, p, v FROM box
        UNION ALL
        SELECT doc_id AS media_id, method, p, v FROM near
    """
    d["image_meta_sniff"] = """
        -- the synthesis recipe IS the oracle: format/dims derive from
        -- doc_id, so a match proves the header-offset arithmetic
        SELECT doc_id AS media_id,
               CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                    ELSE 'bmp' END AS format,
               CAST(1 + doc_id % 7 AS INT) AS width,
               CAST(1 + doc_id % 5 AS INT) AS height
        FROM documents
    """
    d["image_meta_jpeg"] = """
        SELECT doc_id AS media_id, 'jpeg' AS format,
               CAST(8 + doc_id % 9 AS INT) AS width,
               CAST(8 + doc_id % 7 AS INT) AS height
        FROM documents
    """
    d["video_frame_phash_avi"] = """
        -- block value b_i of frame f = byte i of md5(text||'@a'||f);
        -- the all-ones-qtable MJPEG frame decodes EXACTLY, gray(cell)
        -- = 3*64*b_i, and every phash comparison is homogeneous, so
        -- the comparisons replay on the raw digest bytes
        WITH v AS (
          SELECT doc_id, f.f AS f, g.i AS i,
                 ('0x' || substr(md5(text || '@a' ||
                                     CAST(f.f AS VARCHAR)),
                                 2 * g.i + 1, 2))::BIGINT AS b
          FROM documents
          CROSS JOIN generate_series(0, 2) f(f)
          CROSS JOIN generate_series(0, 15) g(i)
        ), tot AS (
          SELECT doc_id, f, CAST(sum(b) AS BIGINT) AS ts
          FROM v GROUP BY 1, 2
        ), ah AS (
          SELECT v.doc_id AS doc_id, v.f AS f,
                 CAST(sum(CASE WHEN 16 * v.b > t.ts
                      THEN (CAST(1 AS BIGINT) << v.i)
                      ELSE 0 END) AS BIGINT) AS ahash
          FROM v JOIN tot t ON t.doc_id = v.doc_id AND t.f = v.f
          GROUP BY 1, 2
        ), dh AS (
          SELECT a.doc_id AS doc_id, a.f AS f,
                 CAST(coalesce(sum(CASE WHEN a.b > c.b
                      THEN (CAST(1 AS BIGINT)
                            << ((a.i // 4) * 3 + (a.i % 4)))
                      ELSE 0 END), 0) AS BIGINT) AS dhash
          FROM v a JOIN v c
            ON c.doc_id = a.doc_id AND c.f = a.f AND c.i = a.i + 1
           AND a.i % 4 < 3
          GROUP BY 1, 2
        )
        SELECT ah.doc_id AS media_id, 32 AS width, 32 AS height,
               ah.ahash AS ahash, dh.dhash AS dhash,
               CAST(ah.f AS INT) AS frame_idx
        FROM ah JOIN dh ON dh.doc_id = ah.doc_id AND dh.f = ah.f
    """
    d["video_frame_phash_gif"] = """
        -- gray value of pixel p in frame f: byte of
        -- md5(text||'@g'||f||'#'||p//16) at hex offset p%16 — the
        -- gray-valued local palette makes the composited canvas luma
        -- EXACTLY those bytes; comparisons homogeneous as ever
        WITH px AS (
          SELECT doc_id, f.f AS f, g.p AS p,
                 ('0x' || substr(md5(text || '@g' ||
                    CAST(f.f AS VARCHAR) || '#' ||
                    CAST(g.p // 16 AS VARCHAR)),
                    2 * (g.p % 16) + 1, 2))::BIGINT AS gray
          FROM documents
          CROSS JOIN generate_series(0, 2) f(f)
          CROSS JOIN generate_series(0, 63) g(p)
        ), cells AS (
          SELECT doc_id, f, (p % 8) // 2 AS xc, (p // 8) // 2 AS yc,
                 CAST(sum(gray) AS BIGINT) AS cs
          FROM px GROUP BY 1, 2, 3, 4
        ), tot AS (
          SELECT doc_id, f, CAST(sum(cs) AS BIGINT) AS ts
          FROM cells GROUP BY 1, 2
        ), ah AS (
          SELECT c.doc_id AS doc_id, c.f AS f,
                 CAST(sum(CASE WHEN c.cs * 64 > t.ts * 4
                      THEN (CAST(1 AS BIGINT) << (c.yc * 4 + c.xc))
                      ELSE 0 END) AS BIGINT) AS ahash
          FROM cells c JOIN tot t ON t.doc_id = c.doc_id AND t.f = c.f
          GROUP BY 1, 2
        ), dh AS (
          SELECT a.doc_id AS doc_id, a.f AS f,
                 CAST(coalesce(sum(CASE WHEN a.cs * 4 > b.cs * 4
                      THEN (CAST(1 AS BIGINT) << (a.yc * 3 + a.xc))
                      ELSE 0 END), 0) AS BIGINT) AS dhash
          FROM cells a JOIN cells b
            ON b.doc_id = a.doc_id AND b.f = a.f AND b.yc = a.yc
           AND b.xc = a.xc + 1
          GROUP BY 1, 2
        )
        SELECT ah.doc_id AS media_id,
               8 AS width, 8 AS height, ah.ahash AS ahash,
               dh.dhash AS dhash, CAST(ah.f AS INT) AS frame_idx
        FROM ah JOIN dh ON dh.doc_id = ah.doc_id AND dh.f = ah.f
    """
    d["video_frame_phash"] = """
        -- luma byte p of frame f: digest md5(text || '%f#' || p//16),
        -- hex offset p%16; gray on the Spark side is 3*Y but every
        -- comparison is homogeneous in the pixels, so Y replays it
        WITH px AS (
          SELECT doc_id, f.f AS f, g.p AS p,
                 ('0x' || substr(md5(text || '%' ||
                    CAST(f.f AS VARCHAR) || '#' ||
                    CAST(g.p // 16 AS VARCHAR)),
                    2 * (g.p % 16) + 1, 2))::BIGINT AS gray
          FROM documents
          CROSS JOIN generate_series(0, 2) f(f)
          CROSS JOIN generate_series(0, 63) g(p)
        ), cells AS (
          SELECT doc_id, f, (p % 8) // 2 AS xc, (p // 8) // 2 AS yc,
                 CAST(sum(gray) AS BIGINT) AS cs
          FROM px GROUP BY 1, 2, 3, 4
        ), tot AS (
          SELECT doc_id, f, CAST(sum(cs) AS BIGINT) AS ts
          FROM cells GROUP BY 1, 2
        ), ah AS (
          SELECT c.doc_id AS doc_id, c.f AS f,
                 CAST(sum(CASE WHEN c.cs * 64 > t.ts * 4
                      THEN (CAST(1 AS BIGINT) << (c.yc * 4 + c.xc))
                      ELSE 0 END) AS BIGINT) AS ahash
          FROM cells c JOIN tot t ON t.doc_id = c.doc_id AND t.f = c.f
          GROUP BY 1, 2
        ), dh AS (
          SELECT a.doc_id AS doc_id, a.f AS f,
                 CAST(coalesce(sum(CASE WHEN a.cs * 4 > b.cs * 4
                      THEN (CAST(1 AS BIGINT) << (a.yc * 3 + a.xc))
                      ELSE 0 END), 0) AS BIGINT) AS dhash
          FROM cells a JOIN cells b
            ON b.doc_id = a.doc_id AND b.f = a.f AND b.yc = a.yc
           AND b.xc = a.xc + 1
          GROUP BY 1, 2
        )
        SELECT ah.doc_id AS media_id,
               8 AS width, 8 AS height, ah.ahash AS ahash,
               dh.dhash AS dhash, CAST(ah.f AS INT) AS frame_idx
        FROM ah JOIN dh ON dh.doc_id = ah.doc_id AND dh.f = ah.f
    """
    d["video_near_dups"] = """
        -- content keys on doc_id % 20 (doc_id < 100), so near-dup
        -- pairs are exactly the same-residue pairs, full overlap
        WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 100)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               1.0::DOUBLE AS shared_frac
        FROM d a JOIN d b
          ON a.doc_id < b.doc_id AND a.doc_id % 20 = b.doc_id % 20
    """
    d["image_orientation"] = """
        SELECT doc_id AS media_id,
               CAST(CASE WHEN doc_id % 5 = 0 THEN NULL
                    ELSE 1 + doc_id % 8 END AS INT) AS orientation
        FROM documents
    """
    d["image_orient"] = """
        -- output (x,y) maps back to source (sx,sy) per EXIF tag 274;
        -- source byte j = 3*(sy*8+sx)+c from the md5 pixel recipe
        WITH o AS (
          SELECT doc_id, text, 1 + doc_id % 8 AS o,
                 g.p AS p, g.p % 3 AS c,
                 (g.p // 3) % 8 AS x, g.p // 24 AS y
          FROM documents CROSS JOIN generate_series(0, 191) g(p)
        ), m AS (
          SELECT doc_id, text, p,
                 3 * 8 * (CASE o WHEN 1 THEN y WHEN 2 THEN y
                          WHEN 3 THEN 7 - y WHEN 4 THEN 7 - y
                          WHEN 5 THEN x WHEN 6 THEN 7 - x
                          WHEN 7 THEN 7 - x ELSE x END)
                 + 3 * (CASE o WHEN 1 THEN x WHEN 2 THEN 7 - x
                        WHEN 3 THEN 7 - x WHEN 4 THEN x
                        WHEN 5 THEN y WHEN 6 THEN y
                        WHEN 7 THEN 7 - y ELSE 7 - y END)
                 + c AS j
          FROM o
        )
        SELECT doc_id AS media_id, CAST(p AS INT) AS p,
               ('0x' || substr(md5(text || '#' ||
                  CAST(j // 16 AS VARCHAR)),
                  2 * (j % 16) + 1, 2))::BIGINT AS v
        FROM m
    """
    d["audio_meta_sniff"] = """
        -- recipe oracle with the Layer III bitrate tables inlined
        -- (1-based list_extract; frame sizes 1000 / 500 bytes)
        WITH t AS (
          SELECT doc_id,
                 CAST(doc_id % 3 AS INT) AS v,
                 1 + doc_id % 14 AS br,
                 CAST((doc_id % 9) // 3 AS INT) AS sr,
                 8000 + 8000 * (doc_id % 5 % 3) AS wrate
          FROM documents
        )
        SELECT doc_id AS media_id,
               CASE WHEN v = 0 THEN 'wav' ELSE 'mp3' END AS format,
               CAST(CASE WHEN v = 0 THEN 1
                         WHEN doc_id % 2 = 1 THEN 1
                         ELSE 2 END AS INT) AS n_channels,
               CAST(CASE v
                 WHEN 0 THEN wrate
                 WHEN 1 THEN list_extract([44100, 48000, 32000],
                                          sr + 1)
                 ELSE list_extract([22050, 24000, 16000], sr + 1)
               END AS INT) AS sample_rate,
               CAST(CASE v
                 WHEN 0 THEN wrate * 16 // 1000
                 WHEN 1 THEN list_extract([32,40,48,56,64,80,96,112,
                                           128,160,192,224,256,320],
                                          br)
                 ELSE list_extract([8,16,24,32,40,48,56,64,80,96,112,
                                    128,144,160], br)
               END AS INT) AS bitrate_kbps,
               CAST(CASE WHEN v = 0 THEN 16 END AS INT) AS bits,
               CAST(CASE v
                 WHEN 0 THEN 256000 // (wrate * 2)
                 WHEN 1 THEN 8000 // list_extract([32,40,48,56,64,80,
                                 96,112,128,160,192,224,256,320], br)
                 ELSE 4000 // list_extract([8,16,24,32,40,48,56,64,80,
                                 96,112,128,144,160], br)
               END AS BIGINT) AS duration_ms
        FROM t
    """
    d["transcode_payload"] = """
        SELECT doc_id,
               CASE CAST(doc_id % 4 AS INT)
                 WHEN 0 THEN 'héllo' WHEN 1 THEN 'café'
                 WHEN 2 THEN 'é!' ELSE 'plain' END
                 || CAST(doc_id % 9 AS VARCHAR) AS text,
               CASE CAST(doc_id % 4 AS INT)
                 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'latin-1'
                 WHEN 2 THEN 'latin-1' ELSE 'ascii' END
                 AS used_charset,
               doc_id % 4 = 2 AS had_errors
        FROM documents
    """
    d["crawl_frontier"] = """
        -- composed from the verified component recipes: link 1 is
        -- normalized (utm stripped, params sorted) and blocked on the
        -- w0.* hosts (robots Disallow: /r); links 2 and 3 always pass
        WITH b AS (
          SELECT doc_id,
                 'https://w' || CAST(doc_id % 4 AS VARCHAR) || '.site'
                   || CAST(doc_id % 6 AS VARCHAR) || '.com' AS origin,
                 '/dir' || CAST(doc_id % 3 AS VARCHAR) || '/' AS dirp
          FROM documents
        ), l AS (
          SELECT origin || '/r' || CAST(doc_id % 5 AS VARCHAR)
                   || '?a=1&b=2' AS u
          FROM b WHERE doc_id % 4 <> 0
          UNION ALL
          SELECT origin || dirp || 'rel'
                   || CAST(doc_id % 7 AS VARCHAR) || '.html'
          FROM b
          UNION ALL
          SELECT 'https://abs' || CAST(doc_id % 8 AS VARCHAR)
                   || '.org/p'
          FROM b
        )
        SELECT u AS url_norm, count(*) AS n_refs
        FROM l GROUP BY u
    """
    d["robots_crawl_delays"] = """
        -- solo's Disallow ends its UA run, so the following delay
        -- belongs to tail ONLY (the boundary the r12 fix added)
        WITH d AS (
          SELECT doc_id, 'h' || CAST(doc_id AS VARCHAR) AS host,
                 CAST(2 * (doc_id % 9 + 1) + 0.5 AS DOUBLE) AS cd
          FROM documents
        )
        SELECT host, 'bot' || CAST(doc_id % 3 AS VARCHAR) AS agent,
               cd AS crawl_delay
        FROM d
        UNION ALL
        SELECT host, 'aux', cd FROM d
        UNION ALL
        SELECT host, 'tail', CAST(doc_id % 5 + 1 AS DOUBLE) FROM d
    """
    d["robots_rules"] = """
        -- the synthesis recipe IS the oracle: 5 lines per doc ->
        -- group 1 = (UA bot{d%3}; allow-or-disallow /p{d%5}/;
        -- disallow /q{d%4}$), group 2 = (UA *; disallow /tmp{d%7}/)
        WITH d AS (
          SELECT doc_id, 'h' || CAST(doc_id AS VARCHAR) AS host
          FROM documents
        )
        SELECT host, 'bot' || CAST(doc_id % 3 AS VARCHAR) AS agent,
               CASE WHEN doc_id % 2 = 0 THEN 'allow'
                    ELSE 'disallow' END AS rule,
               '/p' || CAST(doc_id % 5 AS VARCHAR) || '/' AS pattern,
               1 AS line_no
        FROM d
        UNION ALL
        SELECT host, 'bot' || CAST(doc_id % 3 AS VARCHAR), 'disallow',
               '/q' || CAST(doc_id % 4 AS VARCHAR) || '$', 2
        FROM d
        UNION ALL
        SELECT host, '*', 'disallow',
               '/tmp' || CAST(doc_id % 7 AS VARCHAR) || '/', 4
        FROM d
    """
    d["extract_links"] = """
        -- the synthesis recipe IS the oracle: three kept links per
        -- doc (root-relative -> origin, path-relative -> base dir,
        -- absolute verbatim); mailto:/#fragment dropped
        WITH b AS (
          SELECT doc_id,
                 'https://w' || CAST(doc_id % 4 AS VARCHAR) || '.site'
                   || CAST(doc_id % 6 AS VARCHAR) || '.com' AS origin,
                 '/dir' || CAST(doc_id % 3 AS VARCHAR) || '/' AS dirp
          FROM documents
        )
        SELECT doc_id, origin || dirp || 'page.html' AS url,
               '/r' || CAST(doc_id % 5 AS VARCHAR) AS href,
               origin || '/r' || CAST(doc_id % 5 AS VARCHAR)
                 AS link_url
        FROM b
        UNION ALL
        SELECT doc_id, origin || dirp || 'page.html',
               'rel' || CAST(doc_id % 7 AS VARCHAR) || '.html',
               origin || dirp || 'rel' || CAST(doc_id % 7 AS VARCHAR)
                 || '.html'
        FROM b
        UNION ALL
        SELECT doc_id, origin || dirp || 'page.html',
               'https://abs' || CAST(doc_id % 8 AS VARCHAR)
                 || '.org/p',
               'https://abs' || CAST(doc_id % 8 AS VARCHAR)
                 || '.org/p'
        FROM b
    """
    d["http_charset"] = """
        SELECT doc_id,
               CASE CAST(doc_id % 4 AS INT)
                 WHEN 0 THEN 'utf-8'
                 WHEN 1 THEN 'iso-8859-' || CAST(doc_id % 9 + 1
                                                 AS VARCHAR)
                 WHEN 2 THEN 'windows-1252'
                 ELSE NULL END AS charset
        FROM documents
    """
    d["pagerank3"] = """
        -- three unrolled iterations of the identical recurrence
        WITH e AS (
          SELECT DISTINCT doc_id % 20 AS s, (3 * doc_id + 1) % 20 AS t
          FROM documents
          WHERE doc_id % 20 <> (3 * doc_id + 1) % 20
        ), nodes AS (
          SELECT DISTINCT n
          FROM (SELECT s AS n FROM e UNION ALL SELECT t FROM e)
        ), od AS (
          SELECT s, count(*) AS deg FROM e GROUP BY s
        ), p0 AS (
          SELECT n, 1.0::DOUBLE AS pr FROM nodes
        ), c1 AS (
          SELECT e.t AS n, sum(p.pr / od.deg) AS c
          FROM e JOIN p0 p ON p.n = e.s JOIN od ON od.s = e.s
          GROUP BY e.t
        ), p1 AS (
          SELECT nodes.n AS n, 0.15 + 0.85 * coalesce(c1.c, 0) AS pr
          FROM nodes LEFT JOIN c1 ON c1.n = nodes.n
        ), c2 AS (
          SELECT e.t AS n, sum(p.pr / od.deg) AS c
          FROM e JOIN p1 p ON p.n = e.s JOIN od ON od.s = e.s
          GROUP BY e.t
        ), p2 AS (
          SELECT nodes.n AS n, 0.15 + 0.85 * coalesce(c2.c, 0) AS pr
          FROM nodes LEFT JOIN c2 ON c2.n = nodes.n
        ), c3 AS (
          SELECT e.t AS n, sum(p.pr / od.deg) AS c
          FROM e JOIN p2 p ON p.n = e.s JOIN od ON od.s = e.s
          GROUP BY e.t
        ), p3 AS (
          SELECT nodes.n AS n, 0.15 + 0.85 * coalesce(c3.c, 0) AS pr
          FROM nodes LEFT JOIN c3 ON c3.n = nodes.n
        )
        SELECT 'n' || CAST(n AS VARCHAR) AS node,
               round(pr, 6) AS pagerank
        FROM p3
    """
    d["sitemap_locs"] = """
        WITH d AS (SELECT doc_id FROM documents)
        SELECT doc_id,
               'https://m' || CAST(doc_id % 5 AS VARCHAR) || '.com/a'
                 AS loc, '2026-01-01' AS lastmod, FALSE AS is_index
        FROM d
        UNION ALL
        SELECT doc_id,
               'https://m' || CAST(doc_id % 5 AS VARCHAR) || '.com/b'
                 || CAST(doc_id % 7 AS VARCHAR), NULL, FALSE
        FROM d
        UNION ALL
        SELECT doc_id,
               'https://m' || CAST(doc_id % 5 AS VARCHAR) || '.com/s'
                 || CAST(doc_id % 3 AS VARCHAR) || '.xml', NULL, TRUE
        FROM d
    """
    d["robots_sitemaps"] = """
        WITH d AS (
          SELECT doc_id, 'h' || CAST(doc_id AS VARCHAR) AS host,
                 'https://h' || CAST(doc_id % 6 AS VARCHAR) AS base
          FROM documents
        )
        SELECT host, base || '.com/s' || CAST(doc_id % 4 AS VARCHAR)
                 || '.xml' AS sitemap_url
        FROM d
        UNION ALL
        SELECT host, base || '.com/extra.xml' FROM d
    """
    d["robots_allowed"] = """
        -- independent hand-derivation of the RFC 9309 decisions for
        -- the fixed 3-host rule corpus (see q_robots_allowed):
        -- s0: allow /p1/f3* (len 7) beats both /p1/ (4) and the
        --     length-7 /*.pdf$ tie; s1: the trainbot group shadows
        --     Disallow: /; s2: fully-anchored single rule; s3: no
        --     robots.txt -> default allow
        SELECT doc_id,
               'http://s' || CAST(doc_id % 4 AS VARCHAR) || '.com/p'
                 || CAST(doc_id % 5 AS VARCHAR) || '/f'
                 || CAST(doc_id % 9 AS VARCHAR)
                 || CASE WHEN doc_id % 2 = 0 THEN '.pdf'
                         ELSE '.html' END AS url,
               CASE CAST(doc_id % 4 AS INT)
                 WHEN 0 THEN
                   CASE WHEN doc_id % 5 = 1 AND doc_id % 9 = 3
                        THEN TRUE
                        WHEN doc_id % 2 = 0 THEN FALSE
                        WHEN doc_id % 5 = 1 THEN FALSE
                        ELSE TRUE END
                 WHEN 1 THEN doc_id % 5 <> 2
                 WHEN 2 THEN NOT (doc_id % 5 = 3 AND doc_id % 9 = 5
                                  AND doc_id % 2 = 1)
                 ELSE TRUE END AS allowed
        FROM documents
    """
    d["bpe_bytes_tokenize"] = _bpe_bytes_sql(_BPE_BYTES_MERGES)
    d["bpe_bytes_train_merges"] = _bpe_bytes_train_sql(6)
    d["wordpiece_train_merges"] = _wordpiece_train_sql(5)
    d["kn3_logprob"] = _KN3_ORACLE
    d["kn3_logprob_pruned"] = _kn3_logprob_sql(min_count=2)
    # the identical RE2-compatible regex chain over the identical wrap;
    # every regexp_replace carries the 'g' flag (DuckDB replaces only
    # the first match by default), entity replaces in the same order
    # (&amp; last — single-pass decode)
    d["strip_html"] = r"""
        WITH wrapped AS (
          SELECT doc_id,
                 '<html><head><script src="a.js">var x=1;</script>'
                 || '<style>.c{}</style></head><body><h1>'
                 || substr(text, 1, 20) || '</h1><p>' || text
                 || ' &amp; more&nbsp;&lt;tags&gt;</p><!-- hidden -->'
                 || '<br></body></html>' AS t
          FROM documents
        ), s AS (
          SELECT doc_id,
            regexp_replace(regexp_replace(regexp_replace(
              replace(replace(replace(replace(replace(replace(replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(t,
                          '(?is)<script\b[^>]*>.*?</script\s*>', ' ',
                          'g'),
                        '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
                      '(?s)<!--.*?-->', ' ', 'g'),
                    '(?i)<br\b[^>]*>|</(p|div|li|tr|h[1-6])\s*>',
                    chr(10), 'g'),
                  '(?s)<[^>]*>', ' ', 'g'),
                '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                '&quot;', '"'), '&#39;', chr(39)), '&apos;', chr(39)),
                '&amp;', '&'),
              '[ ' || chr(9) || chr(13) || ']+', ' ', 'g'),
              ' ?' || chr(10) || '[ ' || chr(10) || ']*', chr(10),
              'g'),
              '^[' || chr(10) || ' ]+|[' || chr(10) || ' ]+$', '',
              'g') AS text
          FROM wrapped
        )
        SELECT doc_id, md5(text) AS text_digest,
               length(text) AS n_chars
        FROM s
    """
    d["strip_markdown"] = r"""
        -- the q_strip_markdown scaffold + the strip_markdown_expr
        -- chain replayed rule-for-rule as a linear CTE ladder (RE2
        -- reads the same \t/\n pattern escapes Java does; the only
        -- dialect delta is \1 vs $1 in replacements)
        WITH wrapped AS (
          SELECT doc_id,
                 '# Title ' || substr(text, 1, 20) || chr(10)
                 || chr(10) || '**' || md5(text||'&mb') || '** and *'
                 || md5(text||'&mi') || '* and `' || md5(text||'&mc')
                 || '` and ~~' || md5(text||'&ms') || '~~' || chr(10)
                 || chr(10) || '```py' || chr(10) || 'code '
                 || md5(text||'&mf') || chr(10) || '```' || chr(10)
                 || chr(10) || '> quoted ' || md5(text||'&mq')
                 || chr(10) || chr(10) || '- li1' || chr(10)
                 || '12. li2' || chr(10) || chr(10) || '[a '
                 || md5(text||'&ml')
                 || '](http://x) ![alt](i.png) [r][1]' || chr(10)
                 || '[1]: http://example.com' || chr(10) || chr(10)
                 || '| c1 | ' || md5(text||'&mt') || ' |' || chr(10)
                 || '|---|---|' || chr(10) || '| v1 | v2 |'
                 || chr(10) || chr(10) || '---' || chr(10)
                 || 'tail ' || text AS t
          FROM documents
        ),
        s01 AS (SELECT doc_id, regexp_replace(t,
                '(?s)```[^\n]*\n(.*?)```', '\1', 'g') AS t
                FROM wrapped),
        s02 AS (SELECT doc_id, regexp_replace(t,
                '`([^`\n]+)`', '\1', 'g') AS t FROM s01),
        s03 AS (SELECT doc_id, regexp_replace(t,
                '!\[([^\]]*)\]\([^)]*\)', '\1', 'g') AS t FROM s02),
        s04 AS (SELECT doc_id, regexp_replace(t,
                '\[([^\]]*)\]\([^)]*\)', '\1', 'g') AS t FROM s03),
        s05 AS (SELECT doc_id, regexp_replace(t,
                '\[([^\]]*)\]\[[^\]]*\]', '\1', 'g') AS t FROM s04),
        s06 AS (SELECT doc_id, regexp_replace(t,
                '(?m)^[ \t]{0,3}\[[^\]]+\]:[ \t]*\S.*$', '', 'g')
                AS t FROM s05),
        s07 AS (SELECT doc_id, regexp_replace(t,
                '(?m)^[ \t]{0,3}#{1,6}[ \t]+', '', 'g') AS t
                FROM s06),
        s08 AS (SELECT doc_id, regexp_replace(t,
                '(?m)^[ \t]{0,3}(={3,}|-{3,})[ \t]*$', '', 'g') AS t
                FROM s07),
        s09 AS (SELECT doc_id, regexp_replace(t,
                '(?m)^[ \t]{0,3}(>[ \t]?)+', '', 'g') AS t FROM s08),
        s10 AS (SELECT doc_id, regexp_replace(t,
                '(?m)^[ \t]{0,3}([*_-][ \t]*){3,}$', '', 'g') AS t
                FROM s09),
        s11 AS (SELECT doc_id, regexp_replace(t,
                '\*\*([^*\n]+)\*\*', '\1', 'g') AS t FROM s10),
        s12 AS (SELECT doc_id, regexp_replace(t,
                '__([^_\n]+)__', '\1', 'g') AS t FROM s11),
        s13 AS (SELECT doc_id, regexp_replace(t,
                '\*([^*\n]+)\*', '\1', 'g') AS t FROM s12),
        s14 AS (SELECT doc_id, regexp_replace(t,
                '~~([^~\n]+)~~', '\1', 'g') AS t FROM s13),
        s15 AS (SELECT doc_id, regexp_replace(t,
                '(?m)^[ \t]*\|[-:| ]+\|?[ \t]*$', '', 'g') AS t
                FROM s14),
        s16 AS (SELECT doc_id, regexp_replace(t,
                '(?m)^[ \t]*\||\|[ \t]*$', '', 'g') AS t FROM s15),
        s17 AS (SELECT doc_id, regexp_replace(t,
                '[ \t]*\|[ \t]*', ' ', 'g') AS t FROM s16),
        s18 AS (SELECT doc_id, regexp_replace(t,
                '(?m)^[ \t]{0,3}([-*+]|[0-9]+\.)[ \t]+', '', 'g')
                AS t FROM s17),
        s19 AS (SELECT doc_id, regexp_replace(t,
                '[ \t\r]+', ' ', 'g') AS t FROM s18),
        s20 AS (SELECT doc_id, regexp_replace(t,
                ' ?\n[ \n]*', chr(10), 'g') AS t FROM s19),
        s21 AS (SELECT doc_id, regexp_replace(t,
                '^[\n ]+|[\n ]+$', '', 'g') AS t FROM s20)
        SELECT doc_id, md5(t) AS text_digest,
               length(t) AS n_chars
        FROM s21
    """
    # the q_strip_latex scaffold + the strip_latex_expr chain
    # replayed rule-for-rule as a linear CTE ladder (RE2 reads the
    # same escapes Java does; \1 vs $1 in replacements; escaped
    # $ { } ride chr(1)/chr(2)/chr(3) placeholders in BOTH engines);
    # shared between the digest row and the quality composition
    _latex_ladder = r"""
        WITH wrapped AS (
          SELECT doc_id,
                 '\documentclass[11pt]{article}' || chr(10)
                 || '\usepackage{amsmath}' || chr(10)
                 || '\title{T \emph{\textbf{' || md5(text||'&lt')
                 || '}}}' || chr(10)
                 || '% comment ' || md5(text||'&lc') || chr(10)
                 || '\begin{document}' || chr(10) || '\maketitle'
                 || chr(10)
                 || '\section*{S ' || md5(text||'&ls') || '}'
                 || chr(10)
                 || 'M\"uller and \''e and tilde~space and 100\% '
                 || 'and A\&B and \_u\_ and \$9 and \{lit\}.'
                 || chr(10)
                 || 'Inline $x^2$ and $$' || md5(text||'&ld')
                 || '$$ and \[' || md5(text||'&lm') || '\] and'
                 || chr(10)
                 || '\begin{equation*}' || md5(text||'&le')
                 || '\end{equation*}' || chr(10)
                 || '\cite{k' || md5(text||'&lr')
                 || '} \href{http://x}{anchor ' || md5(text||'&lh')
                 || '}' || chr(10)
                 || '\begin{itemize}' || chr(10)
                 || '\item item ' || md5(text||'&li') || chr(10)
                 || '\item[*] starred' || chr(10) || '\end{itemize}'
                 || chr(10) || 'broken \\ line' || chr(10)
                 || '\begin{verbatim}' || chr(10)
                 || 'verb ' || md5(text||'&lv') || chr(10)
                 || '\end{verbatim}' || chr(10) || 'tail ' || text
                 || chr(10) || '\end{document}' AS t
          FROM documents
        ),
        l01 AS (SELECT doc_id, regexp_replace(t,
                '(?s)\\begin\{verbatim\}\n?(.*?)\\end\{verbatim\}',
                '\1', 'g') AS t FROM wrapped),
        l02 AS (SELECT doc_id, replace(t, '\$', chr(1)) AS t
                FROM l01),
        l03 AS (SELECT doc_id, replace(t, '\{', chr(2)) AS t
                FROM l02),
        l04 AS (SELECT doc_id, replace(t, '\}', chr(3)) AS t
                FROM l03),
        l05 AS (SELECT doc_id, regexp_replace(t,
                '(?m)(^|[^\\])%[^\n]*$', '\1', 'g') AS t FROM l04),
        l06 AS (SELECT doc_id, regexp_replace(t,
                '(?s)\$\$.*?\$\$', '', 'g') AS t FROM l05),
        l07 AS (SELECT doc_id, regexp_replace(t,
                '(?s)\\\[.*?\\\]', '', 'g') AS t FROM l06),
        l08 AS (SELECT doc_id, regexp_replace(t,
                '(?s)\\\(.*?\\\)', '', 'g') AS t FROM l07),
        l09 AS (SELECT doc_id, regexp_replace(t,
                '(?s)\\begin\{(?:equation|align|alignat|gather'
                || '|eqnarray|multline|math|displaymath)\*?\}.*?'
                || '\\end\{(?:equation|align|alignat|gather'
                || '|eqnarray|multline|math|displaymath)\*?\}',
                '', 'g') AS t FROM l08),
        l10 AS (SELECT doc_id, regexp_replace(t,
                '\$[^$\n]*\$', '', 'g') AS t FROM l09),
        l11 AS (SELECT doc_id, regexp_replace(t,
                '\\href\{[^{}]*\}\{([^{}]*)\}', '\1', 'g') AS t
                FROM l10),
        l12 AS (SELECT doc_id, regexp_replace(t,
                '\\(?:section|subsection|subsubsection|chapter|part'
                || '|paragraph|subparagraph|title|author|date|thanks'
                || '|textbf|textit|texttt|textsc|textsf|textrm'
                || '|textmd|textup|textsl|emph|underline|caption'
                || '|footnote|mbox|hbox|text|textsuperscript'
                || '|textsubscript)\*?\{([^{}]*)\}', '\1', 'g') AS t
                FROM l11),
        l13 AS (SELECT doc_id, regexp_replace(t,
                '\\(?:section|subsection|subsubsection|chapter|part'
                || '|paragraph|subparagraph|title|author|date|thanks'
                || '|textbf|textit|texttt|textsc|textsf|textrm'
                || '|textmd|textup|textsl|emph|underline|caption'
                || '|footnote|mbox|hbox|text|textsuperscript'
                || '|textsubscript)\*?\{([^{}]*)\}', '\1', 'g') AS t
                FROM l12),
        l14 AS (SELECT doc_id, regexp_replace(t,
                '\\(?:section|subsection|subsubsection|chapter|part'
                || '|paragraph|subparagraph|title|author|date|thanks'
                || '|textbf|textit|texttt|textsc|textsf|textrm'
                || '|textmd|textup|textsl|emph|underline|caption'
                || '|footnote|mbox|hbox|text|textsuperscript'
                || '|textsubscript)\*?\{([^{}]*)\}', '\1', 'g') AS t
                FROM l13),
        l15 AS (SELECT doc_id, regexp_replace(t,
                '\\(?:cite|citet|citep|citeauthor|citeyear|ref'
                || '|eqref|pageref|autoref|cref|label|url|input'
                || '|include|includegraphics|usepackage'
                || '|documentclass|bibliography|bibliographystyle'
                || '|vspace|hspace|setlength|newcommand'
                || '|renewcommand|pagestyle|thispagestyle)\*?'
                || '(?:\[[^\]]*\])?\{[^{}]*\}', '', 'g') AS t
                FROM l14),
        l16 AS (SELECT doc_id, regexp_replace(t,
                '\\(?:begin|end)\{[^{}]*\}(?:\[[^\]]*\])?'
                || '(?:\{[^{}]*\})*', '', 'g') AS t FROM l15),
        l17 AS (SELECT doc_id, regexp_replace(t,
                '\\item(?:\[[^\]]*\])?[ \t]*', '', 'g') AS t
                FROM l16),
        l18 AS (SELECT doc_id, regexp_replace(t,
                '\\\\\*?(?:\[[^\]]*\])?', chr(10), 'g') AS t
                FROM l17),
        l19 AS (SELECT doc_id, regexp_replace(t,
                '\\[''`^"]\{?([A-Za-z])\}?', '\1', 'g') AS t
                FROM l18),
        l20 AS (SELECT doc_id, regexp_replace(t,
                '\\([&%_#])', '\1', 'g') AS t FROM l19),
        l21 AS (SELECT doc_id, regexp_replace(t,
                '~', ' ', 'g') AS t FROM l20),
        l22 AS (SELECT doc_id, regexp_replace(t,
                '\\[A-Za-z]+\*?', '', 'g') AS t FROM l21),
        l23 AS (SELECT doc_id, regexp_replace(t,
                '\\[ ,;!]', ' ', 'g') AS t FROM l22),
        l24 AS (SELECT doc_id, regexp_replace(t,
                '[{}]', '', 'g') AS t FROM l23),
        l25 AS (SELECT doc_id, regexp_replace(t,
                '[ \t\r]+', ' ', 'g') AS t FROM l24),
        l26 AS (SELECT doc_id, regexp_replace(t,
                ' ?\n[ \n]*', chr(10), 'g') AS t FROM l25),
        l27 AS (SELECT doc_id, regexp_replace(t,
                '^[\n ]+|[\n ]+$', '', 'g') AS t FROM l26),
        l28 AS (SELECT doc_id,
                replace(replace(replace(t, chr(1), '$'),
                        chr(2), '{'), chr(3), '}') AS t FROM l27)
    """
    d["strip_latex"] = _latex_ladder + """
        SELECT doc_id, md5(t) AS text_digest,
               length(t) AS n_chars
        FROM l28
    """
    d["latex_quality_pipeline"] = f"""
        -- the strip_latex ladder feeding the UNCHANGED gopher
        -- metric SQL (the arXiv corpus-build path: extraction ->
        -- quality filtering in one verified chain)
        WITH lx AS (
          SELECT doc_id, t AS text
          FROM ({_latex_ladder} SELECT doc_id, t FROM l28) s
        )
        SELECT * FROM (
          {d["gopher_quality"].replace("FROM documents", "FROM lx")}
        ) q
    """
    # the ipynb rows: Spark PARSES the nbformat JSON via VARIANT;
    # the oracle never parses — it rebuilds each expected cell from
    # the same scaffold identities (the url-row law: string
    # identities on synthesized shapes)
    _IPYNB_CELLS = """
        SELECT doc_id,
               '# T ' || md5(text||'&n1') || chr(10) || 'body '
                      || md5(text||'&n2')                  AS c0,
               'x = 1' || chr(10) || 'print(''' || md5(text||'&n3')
                       || ''')'                            AS c1,
               'raw ' || md5(text||'&n4')                  AS c2,
               'y = ' || CAST(doc_id AS VARCHAR)           AS c3
        FROM documents
    """
    d["ipynb_cells"] = f"""
        WITH c AS ({_IPYNB_CELLS})
        SELECT doc_id, 0 AS cell_idx, 'markdown' AS cell_type,
               md5(c0) AS src_digest, length(c0) AS n_chars FROM c
        UNION ALL
        SELECT doc_id, 1, 'code', md5(c1), length(c1) FROM c
        UNION ALL
        SELECT doc_id, 2, 'raw', md5(c2), length(c2) FROM c
        UNION ALL
        SELECT doc_id, 3, 'code', md5(c3), length(c3) FROM c
    """
    d["ipynb_text_extract"] = f"""
        WITH c AS ({_IPYNB_CELLS})
        SELECT doc_id,
               md5(c0 || chr(10) || chr(10) || c1 || chr(10)
                      || chr(10) || c3) AS text_digest,
               length(c0 || chr(10) || chr(10) || c1 || chr(10)
                      || chr(10) || c3) AS n_chars,
               4 AS n_cells, 2 AS n_code, 1 AS n_markdown,
               'python' AS language, 4 AS nbformat
        FROM c
    """
    d["code_stats"] = r"""
        -- every higher-order reduction of code.py::code_stats
        -- replayed with DuckDB list functions over the SAME composed
        -- text (scaffold prefix + raw doc body)
        WITH w AS (
          SELECT doc_id,
                 '#!/usr/bin/env python' || chr(10) || '# header '
                 || md5(text||'&c1') || chr(10) || '// c-style'
                 || chr(10) || '/* block */' || chr(10) || ' '
                 || chr(9) || chr(10) || 'blob ' || md5(text||'&c2')
                 || md5(text||'&c3') || chr(10)
                 || '<!-- xml comment -->' || chr(10)
                 || 'x = 1  # @generated marker' || chr(10)
                 || 'tail ' || text AS t
          FROM documents
        ),
        l AS (SELECT doc_id, t, string_split(t, chr(10)) AS ls
              FROM w)
        SELECT doc_id,
               len(ls) AS n_lines,
               len(list_filter(ls, x -> regexp_matches(x,
                   '^[ \t]*$'))) AS n_blank_lines,
               len(list_filter(ls, x -> regexp_matches(x,
                   '(?m)^[ \t]*(#|//|/\*|\*[ \t*]|--[ \t]|;;|<!--)'
                   ))) AS n_comment_lines,
               coalesce(list_max(list_transform(ls,
                   x -> length(x))), 0) AS max_line_len,
               CAST(list_sum(list_transform(ls, x -> length(x)))
                    AS BIGINT) AS total_line_len,
               length(t) AS n_chars,
               length(regexp_replace(t, '[^A-Za-z0-9]', '', 'g'))
                   AS n_alnum,
               len(regexp_extract_all(t, '[A-Za-z0-9+/=]{64,}'))
                   AS n_blob_runs,
               regexp_matches(t, '(?i)auto[- ]?generated'
                   || '|do not edit|generated by|@generated'
                   || '|autogenerated') AS has_autogen
        FROM l
    """
    d["license_detect"] = r"""
        -- the same extract-then-CASE detection replayed over the
        -- same composed text (NOT a symbolic answer key — a phrase
        -- occurring in the raw doc body prices identically)
        WITH w AS (
          SELECT doc_id,
                 CASE doc_id % 10
                   WHEN 0 THEN 'SPDX-License-Identifier: MIT'
                               || chr(10)
                   WHEN 1 THEN
                     'SPDX-License-Identifier: GPL-3.0-only'
                     || chr(10)
                   WHEN 2 THEN 'Apache License' || chr(10)
                               || '   Version 2.0' || chr(10)
                   WHEN 3 THEN 'MIT License' || chr(10)
                   WHEN 4 THEN 'GNU General Public License'
                               || chr(10)
                   WHEN 5 THEN 'Mozilla Public License' || chr(10)
                   WHEN 6 THEN 'Redistribution and use in source '
                               || 'and binary forms' || chr(10)
                   WHEN 7 THEN 'This is free and unencumbered '
                               || 'software' || chr(10)
                   WHEN 8 THEN 'GNU Lesser General Public License'
                               || chr(10)
                   ELSE '' END || text AS t
          FROM documents
        ),
        x AS (
          SELECT doc_id,
                 regexp_extract(substr(t, 1, 4096),
                   'SPDX-License-Identifier:[ \t]*([A-Za-z0-9.+-]+)',
                   1) AS spdx,
                 substr(t, 1, 4096) AS head
          FROM w
        ),
        fin AS (
          SELECT doc_id,
                 CASE WHEN spdx <> '' THEN spdx ELSE
                   CASE
                     WHEN contains(head, 'Apache License')
                          AND contains(head, 'Version 2.0')
                       THEN 'Apache-2.0'
                     WHEN contains(head, 'MIT License') OR
                          contains(head, 'Permission is hereby '
                            || 'granted, free of charge')
                       THEN 'MIT'
                     WHEN contains(head,
                         'GNU Affero General Public License')
                       THEN 'AGPL-3.0'
                     WHEN contains(head,
                         'GNU Lesser General Public License')
                       THEN 'LGPL-3.0'
                     WHEN contains(head,
                         'GNU General Public License')
                       THEN 'GPL-3.0'
                     WHEN contains(head, 'Mozilla Public License')
                       THEN 'MPL-2.0'
                     WHEN contains(head, 'Redistribution and use '
                         || 'in source and binary forms')
                       THEN 'BSD-3-Clause'
                     WHEN contains(head, 'This is free and '
                         || 'unencumbered software')
                       THEN 'Unlicense'
                   END
                 END AS license
          FROM x
        )
        SELECT doc_id, license,
               coalesce(license IN ('MIT','Apache-2.0',
                 'BSD-2-Clause','BSD-3-Clause','ISC','Unlicense',
                 '0BSD','Zlib','CC0-1.0'), false) AS permissive
        FROM fin
    """
    # chat rows: Spark PARSES the messages JSON via VARIANT; the
    # oracle rebuilds every expected turn / stat / rendered byte
    # from the doc_id%4 shape key (contents are fixed-width md5
    # salts, so every length is a constant per shape)
    _CHAT_B = ("SELECT doc_id, doc_id % 4 AS m, text "
               "FROM documents")
    d["chat_turns"] = f"""
        WITH b AS ({_CHAT_B})
        SELECT doc_id, 0 AS turn_idx, 'system' AS role,
               md5('sys ' || md5(text||'&s0')) AS content_digest,
               36 AS n_chars
        FROM b WHERE m IN (1,2)
        UNION ALL
        SELECT doc_id, CASE WHEN m IN (1,2) THEN 1 ELSE 0 END,
               'user', md5('q1 ' || md5(text||'&u1')), 35 FROM b
        UNION ALL
        SELECT doc_id, CASE WHEN m IN (1,2) THEN 2 ELSE 1 END,
               'assistant', md5('a1 ' || md5(text||'&a1')), 35
        FROM b
        UNION ALL
        SELECT doc_id, CASE WHEN m IN (1,2) THEN 3 ELSE 2 END,
               'user', md5('q2 ' || md5(text||'&u2')), 35 FROM b
        UNION ALL
        SELECT doc_id, CASE WHEN m IN (1,2) THEN 4 ELSE 3 END,
               'assistant', md5('a2 ' || md5(text||'&a2')), 35
        FROM b
        UNION ALL
        SELECT doc_id, 5, 'assistant',
               md5('extra ' || md5(text||'&x5')), 38
        FROM b WHERE m = 2
        UNION ALL
        SELECT doc_id, 4, 'user',
               md5('tail ' || md5(text||'&x5')), 37
        FROM b WHERE m = 3
    """
    d["chat_stats"] = f"""
        WITH b AS ({_CHAT_B})
        SELECT doc_id,
               CASE m WHEN 0 THEN 4 WHEN 1 THEN 5 WHEN 2 THEN 6
                      ELSE 5 END AS n_turns,
               CASE m WHEN 3 THEN 3 ELSE 2 END AS n_user,
               CASE m WHEN 2 THEN 3 ELSE 2 END AS n_assistant,
               m IN (1,2) AS has_system,
               m <> 2 AS alternates,
               m <> 3 AS ends_assistant,
               CAST(CASE m WHEN 3 THEN 107 ELSE 70 END AS BIGINT)
                   AS user_chars,
               CAST(CASE m WHEN 2 THEN 108 ELSE 70 END AS BIGINT)
                   AS assistant_chars
        FROM b
    """
    d["chat_render"] = f"""
        WITH b AS ({_CHAT_B}),
        r AS (
          SELECT doc_id,
                 CASE WHEN m IN (1,2) THEN '<|im_start|>system'
                   || chr(10) || 'sys ' || md5(text||'&s0')
                   || '<|im_end|>' || chr(10) ELSE '' END
                 || '<|im_start|>user' || chr(10) || 'q1 '
                 || md5(text||'&u1') || '<|im_end|>' || chr(10)
                 || '<|im_start|>assistant' || chr(10) || 'a1 '
                 || md5(text||'&a1') || '<|im_end|>' || chr(10)
                 || '<|im_start|>user' || chr(10) || 'q2 '
                 || md5(text||'&u2') || '<|im_end|>' || chr(10)
                 || '<|im_start|>assistant' || chr(10) || 'a2 '
                 || md5(text||'&a2') || '<|im_end|>'
                 || CASE WHEN m = 2 THEN chr(10)
                      || '<|im_start|>assistant' || chr(10)
                      || 'extra ' || md5(text||'&x5')
                      || '<|im_end|>'
                    WHEN m = 3 THEN chr(10) || '<|im_start|>user'
                      || chr(10) || 'tail ' || md5(text||'&x5')
                      || '<|im_end|>'
                    ELSE '' END AS t
          FROM b)
        SELECT doc_id, md5(t) AS text_digest,
               length(t) AS n_chars
        FROM r
    """
    # url rows: the oracle rebuilds input AND canonical form from
    # doc_id with plain string functions — the rules are string
    # identities on the synthesized shapes
    d["warc_responses"] = """
        -- response record is record_no 1 (after warcinfo);
        -- payload = text || CRLFCRLF || 'trailer';
        -- content_length = 44-char HTTP envelope + payload length
        SELECT doc_id, 1 AS record_no,
               'http://ex' || (doc_id % 7)::VARCHAR || '.com/'
                 || doc_id::VARCHAR AS target_uri,
               length(text) + 55 AS content_length,
               md5(text || chr(13) || chr(10) || chr(13) || chr(10)
                   || 'trailer') AS payload_digest
        FROM documents
    """
    # gzip-member row: identical records by construction, same oracle
    d["warc_gz_members"] = d["warc_responses"]
    d["url_normalize"] = """
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN
                 'http://www.ex' || (doc_id % 7)::VARCHAR
                 || '.co.uk/p/' || doc_id::VARCHAR
                 || '?a=1&b=' || (doc_id % 5)::VARCHAR
               ELSE
                 'https://blog.ex' || (doc_id % 7)::VARCHAR
                 || '.com/q/' || doc_id::VARCHAR
               END AS url_norm,
               CASE WHEN doc_id % 2 = 0 THEN
                 'www.ex' || (doc_id % 7)::VARCHAR || '.co.uk'
               ELSE
                 'blog.ex' || (doc_id % 7)::VARCHAR || '.com'
               END AS host,
               CASE WHEN doc_id % 2 = 0 THEN
                 'ex' || (doc_id % 7)::VARCHAR || '.co.uk'
               ELSE
                 'ex' || (doc_id % 7)::VARCHAR || '.com'
               END AS registered_domain,
               CASE WHEN doc_id % 2 = 0 THEN 'uk'
                    ELSE 'com' END AS tld
        FROM documents
    """
    d["domain_stats"] = """
        WITH dom AS (
          SELECT CASE WHEN doc_id % 2 = 0 THEN
                   'ex' || (doc_id % 7)::VARCHAR || '.co.uk'
                 ELSE
                   'ex' || (doc_id % 7)::VARCHAR || '.com'
                 END AS registered_domain
          FROM documents
        ), per AS (
          SELECT registered_domain, count(*) AS n_docs
          FROM dom GROUP BY 1
        )
        SELECT registered_domain, n_docs,
               round(n_docs / CAST((SELECT sum(n_docs) FROM per)
                              AS DOUBLE), 6) AS share
        FROM per
    """
    # extract_content: full jusText-chain replay.  _bt(x) = block
    # fragment -> plain text (tags stripped, entities decoded in the
    # operator's order with &amp; LAST, whitespace collapsed) — applied
    # to the block AND to each <a> inner capture for link_chars.  All
    # rule comparisons are integer cross-mults, so the CASE is exact.
    def _bt(x):
        return (r"trim(regexp_replace("
                r"replace(replace(replace(replace(replace(replace("
                r"replace(regexp_replace(" + x +
                r", '(?s)<[^>]*>', ' ', 'g'),"
                r" '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),"
                r" '&quot;', '\"'), '&#39;', chr(39)),"
                r" '&apos;', chr(39)), '&amp;', '&'),"
                r" '\s+', ' ', 'g'))")

    _chrome_a = ('<html><head><title>T</title><script>var x=1;'
                 '</script></head><body><nav><ul><li>'
                 '<a href="/">Home</a></li>'
                 '<li><a href="/about">About us</a></li>'
                 '<li><a href="/contact">Contact</a></li></ul></nav>'
                 '<div class="cookie">We use cookies. '
                 '<a href="#">Accept</a> <a href="#">Decline</a></div>'
                 '<article><h1>')
    _chrome_b = ('</p></article><footer><a href="/p">Privacy</a> | '
                 '<a href="/t">Terms</a> | (c) 2026</footer>'
                 '</body></html>')
    _block_tags = ("p|div|li|tr|td|th|h[1-6]|section|article|main"
                   "|header|footer|nav|aside|ul|ol|table|blockquote"
                   "|form|figure|pre")
    d["extract_content"] = rf"""
        WITH wrapped AS (
          SELECT doc_id,
                 '{_chrome_a}' || substr(text, 1, 20) || '</h1><p>'
                 || text || '{_chrome_b}' AS t
          FROM documents
        ), pre AS (
          SELECT doc_id,
                 string_split_regex(
                   regexp_replace(regexp_replace(regexp_replace(t,
                     '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
                     '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
                     '(?s)<!--.*?-->', ' ', 'g'),
                   '(?i)</?(?:{_block_tags})\b[^>]*>') AS blocks
          FROM wrapped
        ), idx AS (
          SELECT doc_id, blocks,
                 unnest(generate_series(1, len(blocks))) AS pos
          FROM pre
        ), raw AS (
          SELECT doc_id, pos, blocks[pos] AS frag FROM idx
        ), scored AS (
          SELECT doc_id, pos,
                 {_bt('frag')} AS btext,
                 coalesce(list_sum(list_transform(
                   regexp_extract_all(frag,
                     '(?is)<a\b[^>]*>(.*?)</a\s*>', 1),
                   a -> length({_bt('a')}))), 0) AS link_chars
          FROM raw
        ), feats AS (
          SELECT doc_id, pos, btext, link_chars,
                 length(btext) AS n_chars,
                 list_filter(list_transform(
                   string_split_regex(trim(btext), '\s+'),
                   x -> regexp_replace(lower(x),
                        '(^[^a-z0-9]+)|([^a-z0-9]+$)', '', 'g')),
                   x -> x != '') AS toks
          FROM scored
        ), labeled AS (
          SELECT doc_id, pos, btext,
                 CASE
                   WHEN len(toks) < 3 THEN 'short'
                   WHEN 3 * link_chars > n_chars THEN 'link'
                   WHEN 4 * len(list_filter(toks, x -> list_contains(
                        ['the','a','and','of','to','in','is','it'],
                        x))) >= len(toks) THEN 'content'
                   WHEN n_chars >= 80 THEN 'content'
                   ELSE 'low'
                 END AS label
          FROM feats
        ), agg AS (
          SELECT doc_id,
                 count(*) AS n_blocks,
                 CAST(sum(CASE WHEN label = 'content' THEN 1 ELSE 0
                     END) AS BIGINT) AS n_content,
                 coalesce(string_agg(btext, chr(10) ORDER BY pos)
                          FILTER (WHERE label = 'content'),
                          '') AS text
          FROM labeled GROUP BY doc_id
        )
        SELECT doc_id, n_blocks, n_content,
               md5(text) AS text_digest, length(text) AS n_chars
        FROM agg
    """
    d["crawl_ingest"] = f"""
        WITH ec AS ({d["extract_content"]})
        SELECT doc_id,
               'http://www.ex' || (doc_id % 7)::VARCHAR
                 || '.co.uk/p/' || doc_id::VARCHAR
                 || '?a=1&b=' || (doc_id % 5)::VARCHAR AS url_norm,
               n_blocks, n_content, text_digest, n_chars
        FROM ec
    """

    # hand-derived from the Unicode tables (NOT by re-running the op):
    # " Å" -> NFKC "Å" -> casefold "å" (chr(229));
    # " Ａ" fullwidth A -> "A" -> "a"; " café" -> NFKC
    # "café" (chr(233)); zero-width space stripped; Cyrillic
    # а folded to latin a.  ASCII body: NFKC identity, casefold
    # == lower.
    d["normalize_unicode"] = """
        SELECT doc_id,
               md5(lower(text) || ' ' || chr(229) || ' a caf'
                   || chr(233) || ' zzzz pay') AS norm_digest,
               length(text) + 18 AS n_chars
        FROM documents
    """
    d["langid_ngram"] = _langid_ngram_sql("""
        SELECT doc_id, lang_pred, n_grams,
               sc / 1000000.0 AS score
        FROM pred""")
    d["langid_ngram_confusion"] = _langid_ngram_sql("""
        SELECT actual, lang_pred, n,
               round(n / CAST(sum(n) OVER (PARTITION BY actual)
                              AS DOUBLE), 6) AS recall_share
        FROM (
          SELECT d.lang AS actual, p.lang_pred, count(*) AS n
          FROM documents d JOIN pred p ON d.doc_id = p.doc_id
          WHERE d.doc_id % 2 = 1
          GROUP BY 1, 2
        )""")
    d["kn3_heldout"] = _kn3_heldout_sql()
    d["kn3_heldout_pruned"] = _kn3_heldout_sql(min_count=2)
    d["stream_attribution_outer"] = """
        WITH wm AS (
          SELECT least(
            (SELECT max(epoch_ms(ts)) FROM events
             WHERE event_type = 'view'),
            (SELECT max(epoch_ms(ts)) FROM events
             WHERE event_type = 'click')) AS w
        )
        SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
               epoch_ms(v.ts) AS view_ms, epoch_ms(c.ts) AS click_ms,
               epoch_ms(c.ts) - epoch_ms(v.ts) AS lag_ms
        FROM events v JOIN events c
          ON v.user_id = c.user_id
         AND v.event_type = 'view' AND c.event_type = 'click'
         AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
        UNION ALL
        SELECT c.user_id, CAST(NULL AS BIGINT) AS view_id,
               c.event_id AS click_id, CAST(NULL AS BIGINT) AS view_ms,
               epoch_ms(c.ts) AS click_ms, CAST(NULL AS BIGINT) AS lag_ms
        FROM events c CROSS JOIN wm
        WHERE c.event_type = 'click'
          AND NOT EXISTS (SELECT 1 FROM events v
                          WHERE v.event_type = 'view'
                            AND v.user_id = c.user_id
                            AND c.ts >= v.ts
                            AND c.ts <= v.ts + INTERVAL 1 HOUR)
          AND epoch_ms(c.ts) < wm.w
    """
    d["stream_attribution_join"] = """
        SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
               epoch_ms(v.ts) AS view_ms, epoch_ms(c.ts) AS click_ms,
               epoch_ms(c.ts) - epoch_ms(v.ts) AS lag_ms
        FROM events v JOIN events c
          ON v.user_id = c.user_id
         AND v.event_type = 'view' AND c.event_type = 'click'
         AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
    """
    d["stream_attribution_last_touch"] = """
        WITH wm AS (
          SELECT least(
            (SELECT max(epoch_ms(ts)) FROM events
             WHERE event_type = 'view'),
            (SELECT max(epoch_ms(ts)) FROM events
             WHERE event_type = 'click')) AS w
        ), pairs AS (
          SELECT c.user_id, c.event_id AS click_id,
                 v.event_id AS view_id,
                 epoch_ms(v.ts) AS vm, epoch_ms(c.ts) AS cm,
                 epoch_ms(c.ts) - epoch_ms(v.ts) AS lag
          FROM events c JOIN events v
            ON v.user_id = c.user_id
           AND v.event_type = 'view' AND c.event_type = 'click'
           AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
        ), best AS (
          SELECT *, row_number() OVER (
                   PARTITION BY user_id, click_id
                   ORDER BY lag ASC, view_id ASC, vm ASC) AS rn
          FROM pairs
        )
        SELECT b.user_id, b.click_id, b.view_id,
               b.vm AS view_ms, b.cm AS click_ms, b.lag AS lag_ms
        FROM best b CROSS JOIN wm
        WHERE b.rn = 1
          AND (b.cm // 3600000) * 3600000 + 3600000 <= wm.w
    """
    d["stream_attribution_first_touch"] = d[
        "stream_attribution_last_touch"].replace(
        "ORDER BY lag ASC, view_id ASC, vm ASC",
        "ORDER BY lag DESC, view_id ASC, vm ASC")
    d["wordpiece_tokenize"] = _wordpiece_oracle()
    d["unigram_tokenize"] = _unigram_apply_oracle()
    d["unigram_train"] = _unigram_train_oracle()
    d["corpus_pipeline"] = _pipeline_oracle(d)
    d["winnow_overlap"] = f"""
        WITH fps AS (
          SELECT DISTINCT doc_id, fp
          FROM ({d["winnow_fingerprints"]}) s
        ), nf AS (
          SELECT doc_id, count(*) AS n FROM fps GROUP BY doc_id
        ), p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 count(*) AS shared
          FROM fps a JOIN fps b
            ON a.fp = b.fp AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 3
        )
        SELECT p.id_a, p.id_b, p.shared,
               round(p.shared / least(na.n, nb.n), 6) AS containment
        FROM p
        JOIN nf na ON na.doc_id = p.id_a
        JOIN nf nb ON nb.doc_id = p.id_b
    """
    return d


def _align_oracle(dur_ms: int, method: str) -> str:
    if method == "linear":
        val = f"round(pv + (cv - pv) * (bpos * {dur_ms} - prev) / (cur - prev), 6)"
    else:
        val = "round(pv, 6)"
    return f"""
        WITH base AS (
          SELECT user_id, epoch_ms(ts) AS cur, value AS cv,
                 lag(epoch_ms(ts)) OVER w AS prev, lag(value) OVER w AS pv
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), bounds AS (
          SELECT user_id, cur, cv, prev, pv,
                 unnest(generate_series(
                     CAST(floor(prev / {dur_ms}.0) AS BIGINT) + 1,
                     CAST(floor(cur / {dur_ms}.0) AS BIGINT))) AS bpos
          FROM base
          WHERE prev IS NOT NULL
            AND floor(cur / {dur_ms}.0) > floor(prev / {dur_ms}.0)
        )
        SELECT user_id, bpos * {dur_ms} AS t_ms, {val} AS value FROM bounds
        UNION ALL
        SELECT user_id, cur AS t_ms, round(cv, 6) AS value
        FROM base WHERE prev IS NULL AND cur % {dur_ms} = 0
    """
