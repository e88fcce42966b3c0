"""Driver-side build cost of one datapipe call on a perfbench seed shard.

Usage::

    python tools/build_cost.py <call> [--seed N] [--shard shard0]
                               [--repeat 5] [--cores 4]

``<call>`` is one of ``dedup`` (``dedup_documents``), ``index_probe``
(``dedup_against_neardup`` on an index of the even ids), ``jaccard_est``
(``lsh_candidate_pairs`` + ``minhash_jaccard_estimate``, as perfbench
runs them), ``lsh_buckets`` (``lsh_band_buckets``) or ``shingles``
(``word_shingles``).  After one warm-up call, each repetition prints:

- ``build_ms``: wall time of the library call that returns the frame,
  including every eager job it runs;
- ``py4j``: Python -> JVM round trips during the build;
- ``jobs``: Spark jobs the build launched before any action;
- ``analysis`` / ``optimization`` / ``planning``: Catalyst phase times of
  the returned frame (``queryExecution().tracker()``; planning is forced
  with ``executedPlan()``).  Only the final frame's phases: every
  intermediate frame the library builds was analyzed when it was made,
  and that time sits in ``build_ms``;
- ``exec_ms`` / ``exec_jobs``: a ``noop`` write of the frame.

The shard is the one ``perfbench/run.py`` caches for the seed under
``perfbench/.work/inputs``; a seed not yet cached is generated into a
temporary directory with the benchmark's own generator.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
sys.path[:0] = [ROOT, BENCH]

CALLS = ("dedup", "index_probe", "jaccard_est", "lsh_buckets", "shingles")


class _RoundTrips:
    """Counts py4j commands sent to the JVM (both connection classes)."""

    def __init__(self) -> None:
        from py4j import clientserver, java_gateway
        self.n = 0
        for cls in (clientserver.ClientServerConnection,
                    java_gateway.GatewayConnection):
            orig = cls.send_command

            def counted(conn, command, _orig=orig, **kw):
                self.n += 1
                return _orig(conn, command, **kw)
            cls.send_command = counted


def _shard_dir(seed: int, shard: str, tmp: str) -> str:
    import run
    cached = os.path.join(run.WORK, "inputs", f"seed-{seed}", shard)
    if os.path.exists(os.path.join(cached, "documents.parquet")):
        return cached
    import gen
    gen.generate(tmp, seed, run.SHARDS)
    return os.path.join(tmp, shard)


def _builder(call: str, spark, docs, tmp: str):
    """(setup, build): ``setup()`` runs once, outside every measurement;
    ``build()`` is the measured library call."""
    from pyspark.sql import functions as F

    from pypond_spark.datapipe import dedup
    if call == "dedup":
        return None, lambda: dedup.dedup_documents(
            docs, jaccard_threshold=0.8).select(
                "doc_id", "cluster_id", "is_keeper")
    if call == "index_probe":
        index = os.path.join(tmp, "neardup_idx")

        def setup():
            dedup.write_neardup_index(docs.where(F.col("doc_id") % 2 == 0),
                                      index, layout="auto")
        return setup, lambda: dedup.dedup_against_neardup(
            docs.where(F.col("doc_id") % 2 == 1), index, threshold=0.8,
            keep_scores=True)
    if call == "jaccard_est":
        def build():
            pairs = dedup.lsh_candidate_pairs(docs).select("id_a", "id_b")
            return dedup.minhash_jaccard_estimate(docs, pairs)
        return None, build
    if call == "lsh_buckets":
        return None, lambda: dedup.lsh_band_buckets(docs)
    return None, lambda: dedup.word_shingles(docs)


def _phases(df) -> dict:
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {p: (phases.apply(p).durationMs() if phases.contains(p) else 0)
            for p in ("analysis", "optimization", "planning")}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("call", choices=CALLS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--shard", default="shard0")
    ap.add_argument("--repeat", type=int, default=5)
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    args = ap.parse_args(argv)

    from pypond_spark.session import get_spark
    tmp = tempfile.mkdtemp(prefix="build_cost_")
    spark = get_spark("build_cost", master=f"local[{args.cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        path = _shard_dir(args.seed, args.shard, tmp)
        docs = spark.read.parquet(os.path.join(path, "documents.parquet"))
        setup, build = _builder(args.call, spark, docs, tmp)
        if setup is not None:
            setup()
        rt = _RoundTrips()
        jsc = spark._jsc.sc()
        rows = []
        for i in range(args.repeat + 1):   # the first call is a warm-up
            jobs0, rt0 = jsc.dagScheduler().numTotalJobs(), rt.n
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            n_rt = rt.n - rt0
            jobs1 = jsc.dagScheduler().numTotalJobs()
            row = {"build_ms": (t1 - t0) * 1e3, "py4j": n_rt,
                   "jobs": jobs1 - jobs0, **_phases(df)}
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            row["exec_ms"] = (time.perf_counter() - t2) * 1e3
            row["exec_jobs"] = jsc.dagScheduler().numTotalJobs() - jobs1
            if i:
                rows.append(row)
                print(f"{args.call} #{i}: " + "  ".join(
                    f"{k}={v:.0f}" for k, v in row.items()))
        print(f"{args.call} median: " + "  ".join(
            f"{k}={statistics.median(r[k] for r in rows):.0f}"
            for k in rows[0]))
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
