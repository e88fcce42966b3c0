"""Shared datapipe helpers, including the word-token law (:data:`WS`,
:func:`word_tokens`, :func:`py_word_tokens`) that every batch operator
and every stream replay tokenizes with."""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import shuffle_width


def global_prefix_sums(df: DataFrame, order_exprs: list[Column],
                       cols: list[str],
                       prefix: str = "__pre_") -> DataFrame:
    """Exclusive prefix sums of ``cols`` in a GLOBAL order, with no
    single-partition window stage.

    ``Window.orderBy(...)`` with no partitionBy funnels the whole frame
    through ONE task — fine for a few thousand rows, fatal for the
    corpus-sized frames a web-scale run produces (a 10^8-value distinct
    frame is still 10^8 rows).  This is the distributed two-pass
    zipWithIndex recipe generalized from ranks to running sums
    (:meth:`pypond_spark.series.TimeSeries.slice`): range-repartition
    on the order, materialize once (localCheckpoint pins the sampled
    range boundaries so both passes see identical partitioning), pull
    the O(partitions) per-partition column totals to the driver, and
    add each partition's cumulative offset to a partition-LOCAL
    exclusive window sum.  Cost: one range exchange + one bounded
    collect; every stage is cluster-wide.

    Adds ``{prefix}{col}`` (BIGINT, exclusive — the sum over all
    strictly-earlier rows) per requested column.  Ties in the order are
    resolved by the caller's order_exprs; pass a tiebreak column when
    exclusive sums must be deterministic under ties.
    """
    n_parts = shuffle_width(df.sparkSession)
    part = (df.repartitionByRange(n_parts, *order_exprs)
            .localCheckpoint()
            .withColumn("__gps_pid", F.spark_partition_id()))
    totals = sorted(
        (r["__gps_pid"], tuple(r[c] or 0 for c in cols))
        for r in part.groupBy("__gps_pid")
        .agg(*[F.sum(c).alias(c) for c in cols]).collect())
    offsets: dict[int, tuple[int, ...]] = {}
    acc = tuple(0 for _ in cols)
    for pid, sums in totals:
        offsets[pid] = acc
        acc = tuple(a + s for a, s in zip(acc, sums))
    w = (Window.partitionBy("__gps_pid").orderBy(*order_exprs)
         .rowsBetween(Window.unboundedPreceding, -1))
    out = part
    for i, c in enumerate(cols):
        off = (F.element_at(
            F.create_map(*[F.lit(v) for pid in offsets
                           for v in (pid, offsets[pid][i])]),
            F.col("__gps_pid")) if offsets else F.lit(0))
        out = out.withColumn(
            prefix + c,
            F.coalesce(F.sum(c).over(w), F.lit(0)) + off)
    return out.drop("__gps_pid")


#: Per-task input floor for cost-gated :func:`spread` calls (bytes).
#: A round-robin exchange costs a stage boundary plus ~10-20 ms of
#: scheduling per task; per-row media work (header sniffs, lossless
#: decodes, fixture parses) processes tens of MB/s/core, so a task fed
#: less than ~2 MiB finishes faster than its own launch.  Gated sites
#: therefore skip the exchange when the WHOLE estimated input is below
#: ``min_task_bytes * defaultParallelism`` — scale-adaptive by
#: construction: a warehouse-scale scan is far above the floor (and
#: already arrives in enough file-splits that spread() is a no-op
#: anyway), while a bench/sample-scale frame stays partition-local.
SPREAD_MIN_TASK_BYTES = 2 << 20


def spread(df: DataFrame, min_task_bytes: int | None = None) -> DataFrame:
    """Fan a too-coarse scan out to the cluster's parallelism.

    Shingle/token explodes multiply rows ~50x and per-row hash work runs
    downstream of the scan, so their parallelism is capped by the scan's
    partition count. A small corpus in one parquet file arrives as a single
    partition and the whole pipeline runs on one core. When the input has
    fewer partitions than ``sparkContext.defaultParallelism``, repartition
    up (round-robin; one extra shuffle of the raw text, measured 2-3x
    end-to-end win at bench scale). At warehouse scale the scan already
    yields thousands of file-splits and this is a no-op — no shuffle added.

    ``min_task_bytes`` (r15): cost gate for per-row operators whose work
    scales with input BYTES (media sniff/decode entries — contrast the
    explode sites above, whose downstream work is many times the input).
    When set, the Catalyst size estimate of ``df`` must be at least
    ``min_task_bytes * defaultParallelism`` for the exchange to pay for
    itself; below that the frame passes through untouched (measured:
    the 8 sub-second sniff rows r14 regressed 10-45% recover fully, and
    post-fixture-cache even the decode rows lose nothing at bench scale).
    The early return also skips the ``.rdd`` partition-count probe — no
    physical planning on the hot construction path for gated small
    frames.  Unknown/unavailable estimates fall through to the old
    unconditional behavior (spreading is the conservative default).
    """
    if df.isStreaming:
        # .rdd is illegal on streaming DataFrames; micro-batch parallelism
        # is the source's concern (maxFilesPerTrigger etc.), not ours
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if min_task_bytes is not None and min_task_bytes > 0:
        try:
            est = int(df._jdf.queryExecution().optimizedPlan()
                      .stats().sizeInBytes())
        except Exception:
            est = None
        if est is not None and 0 <= est < min_task_bytes * max(target, 1):
            return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def spread_io(df: DataFrame) -> DataFrame:
    """:func:`spread` with the byte-cost gate — the entry-point form for
    per-row media/extraction operators (work proportional to input
    bytes).  See ``SPREAD_MIN_TASK_BYTES`` for the threshold law."""
    return spread(df, min_task_bytes=SPREAD_MIN_TASK_BYTES)


def map_blobs(df: DataFrame, schema: T.StructType, fn, id_col: str,
              blob_col: str, *extra_cols: str) -> DataFrame:
    """The codec tier's one Arrow row shell: ``fn`` over every
    ``(id, blob, *extras)`` row of ``df``, one ``mapInPandas`` stage,
    zero shuffle.

    ``fn(blob, *extras)`` returns zero or more tuples; each becomes one
    output row ``(int(id), *tuple)`` under ``schema``.  The blob
    arrives as ``bytes`` (a string column passes through as ``str``);
    extras arrive as pandas hands them over (a NULL int is NaN).

    The NULL law: a row whose id or blob is NULL gives no output.  It
    is a JVM filter in front of the stage, so a NULL never reaches
    ``fn`` and never turns the batch's id column into float64.  A
    decoder's exception still fails the job: corruption stays loud.
    Callers pass an already-spread frame (:func:`spread` or
    :func:`spread_io`)."""
    cols = schema.fieldNames()

    def run(batches):
        for pdf in batches:
            rows = []
            for rid, blob, *ex in zip(pdf[id_col], pdf[blob_col],
                                      *(pdf[c] for c in extra_cols)):
                if not isinstance(blob, str):
                    blob = bytes(blob)
                rows.extend((int(rid), *t) for t in fn(blob, *ex))
            yield pd.DataFrame(rows, columns=cols)

    return (df.where(F.col(id_col).isNotNull()
                     & F.col(blob_col).isNotNull())
            .mapInPandas(run, schema=schema))


#: The whitespace class of the word-token law: Java regex ``\s`` spelled
#: out (space, tab, LF, VT, FF, CR).  The class body means the same in
#: Java regex and Python ``re``, so every engine splits on exactly these
#: six characters; every other character (other C0 controls, U+0085,
#: U+00A0, U+2028, ...) is part of a token.
WS = r" \t\n\x0B\f\r"

_WORD_RE = re.compile(f"[^{WS}]+")


def word_tokens(text: Column | str) -> Column:
    """The word-token law as a JVM expression:
    ``filter(split(trim(text), '[WS]+'), t -> t != '')``, the maximal
    runs of non-``WS`` characters.  ``text`` is a Column or a column
    name.  NULL text gives NULL and empty or all-``WS`` text gives
    ``[]``: neither has tokens.  Shingling (:func:`ngram_explode`
    ``min_one``) gives NULL text no shingle and empty text one ``''``
    shingle; SimHash drops both."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.trim(c), f"[{WS}]+"),
                    lambda t: t != F.lit(""))


def py_word_tokens(text) -> list[str]:
    """The Python replay of :func:`word_tokens` for Arrow stages:
    ``re.findall('[^WS]+', text)``.  NULL (any non-``str``, e.g. a
    pandas NaN) gives ``[]``, the same no-token document the JVM form
    gives; the SimHash rule of :func:`word_tokens` applies unchanged, and
    a replay that shingles drops NULL text first."""
    return _WORD_RE.findall(text) if isinstance(text, str) else []


def ngram_explode(df: DataFrame, arr: Column, n: int,
                  keep: list[str] | None = None,
                  out: str = "gram",
                  min_one: bool = False,
                  sep: str = " ",
                  pos: str | None = None) -> DataFrame:
    """One output row per ``n``-gram of the array column ``arr``, with
    the gram string built AFTER the explode so every step runs inside
    WholeStageCodegen.

    The classic formulation — ``transform(sequence(1, size-n+1),
    i -> concat_ws(' ', element_at(arr, i), ...))`` then ``explode`` —
    evaluates the lambda through Catalyst's interpreted expression path
    once per gram, which measured ~6x the cost of the rest of the chain
    per corpus pass (sf0.1 trigrams: 1.89s -> 0.29s).  Zipping ``n``
    shifted slices (``arrays_zip(arr, slice(arr, 2, ..), ...)``),
    exploding the struct array, and concatenating struct fields row-wise
    is fully code-generated and emits the IDENTICAL (keep, gram)
    multiset: arrays_zip null-pads short tails, and tail entries are
    dropped (strict mode) or kept as the one short shingle (``min_one``
    mode — ``concat_ws`` skips NULL fields) exactly as the old
    ``sequence`` bound / ``greatest(count, 1)`` did.

    strict (default): rows whose array has fewer than ``n`` elements
    emit nothing.  ``min_one=True``: word-shingle semantics, the one
    place the NULL/empty shingle law lives — a NULL array emits nothing
    (NULL text has no shingle, as SQL NULL has no value elsewhere in
    the library), every other row at least one gram: 0 < size < n the
    joined prefix, an empty array one empty-string gram.  ``pos``
    (strict mode only) additionally emits the 0-based gram offset.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if pos is not None and min_one:
        raise ValueError("pos= is only supported in strict mode")
    keep = list(keep or [])
    fields = [f"g{i}" for i in range(n)]
    if n == 1:
        src = arr
        if min_one:
            src = F.when(F.size(arr) > 0, arr) \
                .when(arr.isNotNull(), F.array(F.lit("")))
        gen = (F.posexplode(src).alias(pos, out) if pos is not None
               else F.explode(src).alias(out))
        return df.select(*[F.col(c) for c in keep], gen)
    slices = [arr.alias(fields[0])] + [
        F.slice(arr, i + 1, F.greatest(F.size(arr) - i, F.lit(1)))
        .alias(fields[i]) for i in range(1, n)]
    z = F.arrays_zip(*slices)
    if min_one:
        cnt = F.greatest(F.size(arr) - (n - 1), F.lit(1))
        empty = F.array(F.struct(*[
            F.lit(None).cast("string").alias(f) for f in fields]))
        z = F.when(F.size(arr) > 0, F.slice(z, 1, cnt)) \
            .when(arr.isNotNull(), empty)
        base = df.select(*[F.col(c) for c in keep],
                         F.explode(z).alias("__zg"))
    else:
        gen = (F.posexplode(z).alias(pos, "__zg") if pos is not None
               else F.explode(z).alias("__zg"))
        base = (df.select(*[F.col(c) for c in keep], gen)
                .where(F.col(f"__zg.{fields[-1]}").isNotNull()))
    gram = F.concat_ws(sep, *[F.col(f"__zg.{f}") for f in fields])
    extra = [F.col(pos)] if pos is not None else []
    return base.select(*[F.col(c) for c in keep], *extra,
                       gram.alias(out))


def overlap(*thunks):
    """Run independent driver-coordinated actions CONCURRENTLY (guide
    §2.6 "overlap independent jobs"): Spark's scheduler happily runs
    several jobs at once inside one application — actions are only
    sequential because driver code calls them sequentially.  Two
    independent corpus passes (e.g. a scalar stats aggregate and a
    count-table build) back-fill each other's stragglers instead of
    running back to back.  Returns the thunk results in order; the
    first raising thunk's exception propagates."""
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


def pair_rows(df: DataFrame, arr: Column,
              keep: list[str] | None = None,
              left: str = "l", right: str = "r") -> DataFrame:
    """Adjacent-pair rows ``(keep..., l, r)`` of ``arr`` — the
    tokenizer-training pair count input, zip-exploded for the same
    codegen reason as :func:`ngram_explode` (strict: arrays with <2
    elements emit nothing)."""
    keep = list(keep or [])
    z = F.arrays_zip(
        arr.alias("l"),
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(1))).alias("r"))
    return (df.select(*[F.col(c) for c in keep],
                      F.explode(z).alias("__zp"))
            .where(F.col("__zp.r").isNotNull())
            .select(*[F.col(c) for c in keep],
                    F.col("__zp.l").alias(left),
                    F.col("__zp.r").alias(right)))
