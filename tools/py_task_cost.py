"""Fixed and per-group cost of a Python task on a warm local session.

Usage::

    python tools/py_task_cost.py [--tasks 8] [--groups 4,200,1000,4000]
                                 [--repeat 3] [--step noop|rate] [--cores 4]

Two measurements, each after one warm-up run:

1. ``invalidate_caches``: an N-task ``mapInPandas``.  Inside each task
   it times ``importlib.invalidate_caches()`` (the call pyspark's worker
   makes before every task, in ``worker_util.setup_spark_files``) and
   counts the ``zipimporter`` instances in ``sys.path_importer_cache``.
   Prints the per-task median, min and max ms and the importer count, and
   which module supplied ``zipimporter.invalidate_caches`` (the worker
   daemon's reload guard, or ``zipimport`` itself).
2. ``applyInPandasWithState`` sweep: one JSON file of one event per group
   drained ``availableNow`` through the keyed-state shell of
   ``pypond_spark.streaming.stream`` (``_keyed_state``) into a ``noop``
   sink, at the width a stream drain uses.  ``--step noop`` runs a step
   that emits nothing; ``--step rate`` runs ``stream_rate``'s step for
   comparison.  Prints the median ``addBatch`` ms per group count and a
   least-squares fit ``addBatch_ms = fixed + per_group * groups``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _zip_probe(batches):
    import importlib
    import statistics as st
    import sys as s
    import time
    import zipimport

    import pandas as pd
    for _ in batches:
        pass
    ms = []
    for _ in range(3):
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        ms.append((time.perf_counter() - t0) * 1e3)
    n = sum(isinstance(v, zipimport.zipimporter)
            for v in s.path_importer_cache.values())
    yield pd.DataFrame({
        "ms": [st.median(ms)], "zipimporters": [n],
        "guard": [zipimport.zipimporter.invalidate_caches.__module__]})


def invalidate_cost(spark, tasks: int) -> None:
    df = spark.range(tasks, numPartitions=tasks).mapInPandas(
        _zip_probe, "ms double, zipimporters long, guard string")
    df.collect()  # warm the workers
    rows = df.collect()
    ms = sorted(r["ms"] for r in rows)
    print(f"invalidate_caches  tasks={len(rows)}  "
          f"median={statistics.median(ms):.2f} ms  min={ms[0]:.2f}  "
          f"max={ms[-1]:.2f}  zipimporters="
          f"{sorted({r['zipimporters'] for r in rows})}  "
          f"guard={sorted({r['guard'] for r in rows})}")


def _sweep_frame(spark, path: str, step: str):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from pypond_spark.streaming import stream
    sdf = (spark.readStream.schema("g long, t_ms long, value double")
           .json(path)
           .withColumn("time", F.timestamp_millis("t_ms")).drop("t_ms"))
    if step == "rate":
        return stream.stream_rate(sdf, "value", partition_by=["g"])

    def make_step(keys):
        def noop(key, pdf, state):
            return iter(())
        return noop
    return stream._keyed_state(
        sdf, ["g"], "time", [T.StructField("t_ms", T.LongType())],
        [T.StructField("s", T.DoubleType())], make_step)


def state_sweep(spark, groups: list[int], repeat: int, step: str) -> None:
    from pypond_spark.streaming.stream import _drain_available_now
    pts = []
    with tempfile.TemporaryDirectory() as tmp:
        for g in [groups[0]] + groups:  # first point is the warm-up
            src = os.path.join(tmp, f"g{g}")
            os.makedirs(src, exist_ok=True)
            with open(os.path.join(src, "p.json"), "w") as fh:
                for i in range(g):
                    fh.write(json.dumps(
                        {"g": i, "t_ms": 1_000, "value": 1.0}) + "\n")
            ms = []
            for _ in range(repeat):
                q = _drain_available_now(
                    spark, _sweep_frame(spark, src, step).writeStream
                    .format("noop").outputMode("append"))
                ms.append(sum(p["durationMs"].get("addBatch", 0)
                              for p in q.recentProgress))
            pts.append((g, statistics.median(ms)))
    pts = pts[1:]
    for g, m in pts:
        print(f"applyInPandasWithState  step={step}  groups={g}  "
              f"addBatch={m:.0f} ms")
    xs, ys = [p[0] for p in pts], [p[1] for p in pts]
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    slope = (sum((x - mx) * (y - my) for x, y in pts)
             / sum((x - mx) ** 2 for x in xs))
    print(f"fit  fixed={my - slope * mx:.0f} ms per drain  "
          f"per_group={slope:.3f} ms  "
          f"tasks={spark.sparkContext.defaultParallelism}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--tasks", type=int, default=8)
    ap.add_argument("--groups", default="4,200,1000,4000")
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--step", choices=("noop", "rate"), default="noop")
    ap.add_argument("--cores", type=int, default=4)
    a = ap.parse_args()
    from pypond_spark.session import get_spark
    spark = get_spark("py_task_cost", master=f"local[{a.cores}]",
                      shuffle_partitions=a.cores)
    spark.sparkContext.setLogLevel("ERROR")
    invalidate_cost(spark, a.tasks)
    state_sweep(spark, [int(g) for g in a.groups.split(",")], a.repeat,
                a.step)
    spark.stop()


if __name__ == "__main__":
    main()
