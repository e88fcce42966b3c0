"""Streaming state-store size vs key cardinality (SCALE.md evidence).

Two audits:

1. **Cardinality** (default): drains ``stream_ewma`` over the events table
   at three grouping-key cardinalities and prints the state-store metrics
   Spark reports in the final micro-batch progress (``stateOperators``):
   total state rows and state memory. Keyed state is stored per bucket
   (``streaming.stream.STATE_BUCKETS``), so state rows are at most the
   bucket count, while state bytes track the key cardinality: O(keys),
   independent of event volume. Then the ``stream_first_seen`` claim
   table with and without an event-time TTL.
2. **Write amplification** (``--buckets 4,64,1024``): every micro-batch
   rewrites each touched bucket's whole table. For each bucket count
   (patched into the module constant for the run), drains
   ``stream_first_seen`` keyed on ``SERIES`` long keys: one file claims
   every key, then ``BATCHES`` files each touch ``TOUCHED`` random keys.
   After one warm-up drain, prints for those small batches the median
   ``addBatch`` and state-commit ms and the checkpoint bytes written per
   batch, and the checkpoint's total state bytes.

Usage::

    python tools/stream_state_audit.py [sf_dir]
    python tools/stream_state_audit.py --buckets 4,64,1024
"""

from __future__ import annotations

import os
import statistics
import sys
import tempfile
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from pypond_spark.session import get_spark  # noqa: E402
from pypond_spark.streaming import stream  # noqa: E402
from pypond_spark.streaming.stream import _drain_available_now  # noqa: E402

#: the write-amplification workload: key space, small batches, keys per batch
SERIES, BATCHES, TOUCHED = 1_000_000, 5, 100


def drain_with_progress(sdf, output_mode: str):
    """run_available_now, but keep the query handle so the state-operator
    metrics of the final micro-batch are readable after the drain."""
    name = f"audit_{uuid.uuid4().hex[:8]}"
    query = _drain_available_now(
        sdf.sparkSession, sdf.writeStream.format("memory").queryName(name)
        .outputMode(output_mode))
    rows = sdf.sparkSession.table(name).count()
    state = {}
    for prog in reversed(query.recentProgress):
        ops = prog.get("stateOperators") or []
        if ops:
            state = ops[0]
            break
    return rows, state


def _dir_bytes(path: str, name: str | None = None) -> int:
    """Bytes of the files under ``path`` (only those called ``name``)."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if name is None or f == name)


def amplification(spark, buckets: list[int]) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(0)
    print(f"{'buckets':>8s} {'addBatch ms':>12s} {'commit ms':>10s} "
          f"{'ckpt B/batch':>13s} {'state B':>12s} {'batches':>8s}")
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        files = [np.arange(SERIES)] + [
            rng.choice(SERIES, TOUCHED, replace=False)
            for _ in range(BATCHES)]
        for i, keys in enumerate(files):
            path = os.path.join(src, f"p{i:03d}.parquet")
            pq.write_table(pa.table({"g": keys.astype(np.int64),
                                     "doc": keys.astype(np.int64)}), path)
            os.utime(path, (1_000_000 + i, 1_000_000 + i))
        for i, b in enumerate([buckets[0], *buckets]):
            stream.STATE_BUCKETS = b
            ck = os.path.join(tmp, f"ck{i}")
            sdf = (spark.readStream.schema("g long, doc long")
                   .option("maxFilesPerTrigger", 1).parquet(src))
            out = stream.stream_first_seen(sdf, key_col="g",
                                           payload_cols=("doc",),
                                           order_col="doc")
            q = _drain_available_now(
                spark, out.writeStream.format("noop").outputMode("append")
                .option("checkpointLocation", ck))
            small = [p for p in q.recentProgress
                     if p["batchId"] >= 1 and p["numInputRows"]]
            state = os.path.join(ck, "state")
            add = statistics.median(p["durationMs"]["addBatch"]
                                    for p in small)
            commit = statistics.median(p["stateOperators"][0]["commitTimeMs"]
                                       for p in small)
            # state version v is written by micro-batch v - 1
            ckpt = statistics.median(_dir_bytes(state, f"{p['batchId'] + 1}"
                                                ".delta") for p in small)
            if i:  # the first drain is the warm-up
                print(f"{b:>8d} {add:>12.0f} {commit:>10.0f} {ckpt:>13,.0f} "
                      f"{_dir_bytes(state):>12,} {len(small):>8d}")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("pypond_state_audit")
    spark.sparkContext.setLogLevel("ERROR")
    if sf_dir == "--buckets":
        amplification(spark, [int(b) for b in sys.argv[2].split(",")])
        return

    from pypond_spark.streaming import stream_ewma
    from pypond_spark.streaming.stream import stream_first_seen

    def fmt(val, width):
        # metrics can be absent (no stateful progress recorded) — a
        # string '?' must not hit a numeric-only ',' format spec
        s = f"{val:,}" if isinstance(val, int) else str(val)
        return s.rjust(width)

    variants = [
        ("event_type (5 keys)", ["event_type"]),
        ("user_id (1.5k keys)", ["user_id"]),
        ("event_id (1 key/row)", ["event_id"]),
    ]
    print(f"{'grouping':24s} {'out rows':>9s} {'state rows':>11s} "
          f"{'state bytes':>12s}")
    for label, keys in variants:
        sdf = entry._events_stream(spark, sf_dir)
        out = stream_ewma(sdf, "value", alpha=0.5, partition_by=keys)
        rows, state = drain_with_progress(out, "append")
        print(f"{label:24s} {rows:>9,} "
              f"{fmt(state.get('numRowsTotal', '?'), 11)} "
              f"{fmt(state.get('memoryUsedBytes', '?'), 12)}")

    # claim-table eviction: the stream_first_seen family's state is
    # O(distinct keys) and grows monotonically UNLESS ttl= is set; with
    # an event-time TTL the watermark sweep evicts idle claims, so the
    # final state plateaus at ~(keys sighted in the last ttl of event
    # time) regardless of how much history streamed through — the
    # bounded-state evidence for VERDICT r8 item 1.  The events table
    # spans ~30 days, so ttl='1d' should hold ~1/30 of the keys.
    print()
    print(f"{'first_seen claim state':24s} {'out rows':>9s} "
          f"{'state rows':>11s} {'state bytes':>12s}")
    for label, ttl in [("no ttl (monotone)", None),
                       ("ttl=1d (evicted)", "1d")]:
        sdf = entry._events_stream(spark, sf_dir)
        out = stream_first_seen(sdf, key_col="event_id",
                                payload_cols=("user_id",),
                                order_col="event_id", ttl=ttl)
        rows, state = drain_with_progress(out, "append")
        print(f"{label:24s} {rows:>9,} "
              f"{fmt(state.get('numRowsTotal', '?'), 11)} "
              f"{fmt(state.get('memoryUsedBytes', '?'), 12)}")


if __name__ == "__main__":
    main()
