"""Streaming state-store size vs key cardinality (SCALE.md evidence).

Drains ``stream_ewma`` over the events table at three grouping-key
cardinalities and prints the state-store metrics Spark reports in the
final micro-batch progress (``stateOperators``): total state rows and
state memory. The claim under audit is the one every stream operator's
docstring makes — state is O(keys), independent of event volume — so
state rows must track the key cardinality, not the row count.

Usage::

    python tools/stream_state_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
from pypond_spark.session import get_spark  # noqa: E402
from pypond_spark.streaming.stream import _drain_available_now  # noqa: E402


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


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("pypond_state_audit")
    spark.sparkContext.setLogLevel("ERROR")

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
