"""pypond_spark benchmark.

    python3 perfbench/run.py --workload doc_batch --seed 1 --seconds 12 --trace 0

Runs one closed-loop, single-client workload on ``local[nproc]`` and
prints, as its last line, one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  See ``perfbench/NOTES.md``.

Order of a run: inputs for the seed (generated and digested by DuckDB
once, then cached under ``perfbench/.work``) -> the program's cold start
(``setup_s``) -> the workload's warm-up jobs -> host canaries -> timed jobs,
alternating between two shards, until ``--seconds`` have passed and at
least ``MIN_JOBS`` have run -> canaries again.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

#: Inputs of one seed: a small warm-up shard and the two shards the timed
#: loop alternates between.  One stream file per source: at the library's
#: default shuffle width a stateful micro-batch costs ~5 s on 4 cores, so
#: a drain of one file already costs more than its data.
_FULL = {"events": 10000, "users": 200, "docs": 500, "vocab": 3000,
         "stream_files": 1}
SHARDS = {"warmup": {**_FULL, "events": 1000, "docs": 60},
          **{f"shard{k}": _FULL for k in range(2)}}
#: Fewest timed jobs in a run, however long ``--seconds`` is: the job
#: median needs more than one sample.
MIN_JOBS = 2


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _check_checkout() -> None:
    """The library and its oracle registry must come from this checkout."""
    for rel in ("pypond_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            _fail(f"{rel} not found under {ROOT}: nothing to benchmark")
    sys.path[:0] = [ROOT, HERE]


def _environment() -> None:
    """Keep every file the run writes inside the checkout.  Must run
    before pyspark starts a JVM."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONWARNINGS"] = "ignore"
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's own JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options '{jvm_opts}'",
        "--conf spark.ui.showConsoleProgress=false",
        # the traced run reads every execution and job back from the
        # status stores; keep them all for the length of a run
        "--conf spark.sql.ui.retainedExecutions=100000",
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "pyspark-shell"])


# -- inputs -----------------------------------------------------------------

class Inputs:
    """Shards of one seed and the reference digests of one workload's
    calls on them.  Both are made on first use, outside every timed
    region, and cached under ``perfbench/.work`` for later runs."""

    def __init__(self, seed: int, workload):
        import gen
        self._workload = workload
        self._base = os.path.join(WORK, "inputs", f"seed-{seed}")
        self._meta_path = os.path.join(self._base, "meta.json")
        recipe = [gen.RECIPE_VERSION, SHARDS]
        self._meta = None
        if os.path.exists(self._meta_path):
            with open(self._meta_path) as fh:
                self._meta = json.load(fh)
            if self._meta.get("recipe") != recipe:
                self._meta = None
        if self._meta is None:
            messy = gen.generate(self._base, seed, SHARDS)
            self._meta = {"recipe": recipe, "messy": messy, "refs": {}}
            self._save()

    def _save(self) -> None:
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self._meta, fh)
        os.replace(tmp, self._meta_path)

    def shard(self, name: str):
        """Shard ``name`` with its reference digests."""
        from jobs import Shard
        path = os.path.join(self._base, name)
        key = f"{self._workload.name}/{name}"
        # the stream MinHash query clones each document at doc_id + 10000
        bad_ids = [i for d in self._meta["messy"][name]
                   for i in (d, d + 10000)]
        if name == "warmup":
            self._meta["refs"][key] = {}  # warm-up outputs are not checked
        if key not in self._meta["refs"]:
            import __spark_entry__
            from check import reference_digests
            w = self._workload
            self._meta["refs"][key] = reference_digests(
                path, __spark_entry__.oracle_sql(),
                {o: w.ids.get(c, ()) for c, o in w.oracles.items()},
                bad_ids)
            self._save()
        sizes = SHARDS[name]
        return Shard(path, self._meta["refs"][key],
                     {"events": sizes["events"], "documents": sizes["docs"]},
                     bad_ids)


# -- session start and host canaries ---------------------------------------

def _identity(batches):
    for b in batches:
        yield b


def _square(batches):
    for b in batches:
        yield b * b


def start_session(cores: int) -> tuple:
    """One program start: ``get_spark``, a first JVM stage, and a first
    Python stage (which starts the worker daemon).  Returns the session
    and the three phase times in ms."""
    from pypond_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]")
    t1 = time.perf_counter()
    spark.range(0, 100_000, 1, cores).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    spark.range(0, 1000, 1, cores).mapInPandas(_identity, "id long").collect()
    t3 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, [(t1 - t0) * 1e3, (t2 - t1) * 1e3, (t3 - t2) * 1e3]


def canaries(spark, cores: int, warm: bool = False) -> tuple[float, float]:
    """ms of a fixed JVM-only job and of a fixed Python-boundary job.  They
    call no library operator (the Python one does go through the worker
    daemon), so they track the host's speed.  Unless ``warm``, each runs
    once untimed first (plan compile, worker start)."""
    def jvm():
        spark.range(0, 2_000_000, 1, cores).selectExpr(
            "sum(hash(id))").collect()

    def py():
        spark.range(0, 100_000, 1, cores).mapInPandas(
            _square, "id long").selectExpr("sum(id)").collect()

    out = []
    for fn in (jvm, py):
        if not warm:
            fn()
        t = time.perf_counter()
        fn()
        out.append((time.perf_counter() - t) * 1e3)
    return out[0], out[1]


def jvm_rss_peak_mb(spark) -> float:
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


# -- metrics ---------------------------------------------------------------

def _batches(jobs: list, call: str | None = None) -> list[dict]:
    return [b for job in jobs for r in job["calls"]
            if call is None or r.name.endswith("." + call)
            for b in r.extra.get("batches", [])]


def end_to_end(jobs: list, setup: list, rss_mb: float,
               workload) -> dict[str, float]:
    wall = sum(j["wall_s"] for j in jobs)
    rows = sum(r.rows_in for j in jobs for r in j["calls"] if r.completed)
    m = {"setup_s": sum(setup) / 1e3,
         "rows_per_s": rows / wall,
         "job_p50_ms": statistics.median(j["wall_s"] for j in jobs) * 1e3,
         "jvm_rss_peak_mb": rss_mb}
    # the latency of one delivered result: a micro-batch of a drain, or
    # a whole call of a batch job
    lat = ([b["durationMs"]["triggerExecution"] for b in _batches(jobs)]
           if workload.name == "stream" else
           [r.wall_ms for j in jobs for r in j["calls"]])
    m["batch_p50_ms"] = float(statistics.median(lat))
    # interpolated: with 6-12 samples a nearest-rank p90 is the maximum
    m["batch_p90_ms"] = statistics.quantiles(lat, n=10,
                                             method="inclusive")[8]
    return m


def per_layer(jobs: list, setup: list, canary: list, tracer, counters,
              wall_s: float) -> dict[str, float]:
    n_jobs = len(jobs)
    spans = tracer.spans
    ids = {j["span"] for j in jobs}
    by_parent: dict = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    calls = [c for s in spans if s["id"] in ids for c in by_parent.get(
        s["id"], [])]
    m: dict[str, float] = {}
    (m["session.start_ms"], m["session.first_jvm_stage_ms"],
     m["session.first_py_stage_ms"]) = setup

    def per_job(total: float) -> float:
        return total / n_jobs

    for key in ("sources.scan_ms", "sources.files_read", "jvm.gc_ms",
                "jvm.spark_jobs", "jvm.tasks", "jvm.agg_build_ms",
                "jvm.sort_ms", "jvm.shuffle_write_bytes",
                "jvm.shuffle_write_ms", "jvm.spill_bytes", "python.run_ms",
                "python.start_ms", "python.init_ms", "python.bytes_sent",
                "python.bytes_returned"):
        m[key] = per_job(sum(c.get("counters", {}).get(key, 0.0)
                             for c in calls))

    dp = [c for c in calls if c["name"].startswith("datapipe.")]
    for phase in ("build", "plan", "exec"):
        m[f"datapipe.{phase}_ms"] = per_job(sum(
            (p["end"] - p["start"]) * 1e3 for c in dp
            for p in by_parent.get(c["id"], []) if p["name"] == phase))
    for call in ("quality", "gopher", "dedup", "index_write", "index_probe",
                 "jaccard_est"):
        m[f"datapipe.{call}.exec_ms"] = per_job(sum(
            (c["end"] - c["start"]) * 1e3 for c in dp
            if c["name"] == f"datapipe.{call}"))
    yields = [c["extra"]["pair_yield"] for c in dp
              if "pair_yield" in c.get("extra", {})]
    m["datapipe.dedup.pair_yield"] = (statistics.mean(yields) if yields
                                      else 0.0)

    for call in ("rate", "window_agg", "minhash"):
        trig = [b["durationMs"]["triggerExecution"]
                for b in _batches(jobs, call)]
        m[f"streaming.{call}.batch_p50_ms"] = (
            float(statistics.median(trig)) if trig else 0.0)
    drains = [r for j in jobs for r in j["calls"] if "batches" in r.extra]
    batches = _batches(jobs)
    m["streaming.drain_start_ms"] = (statistics.mean(
        r.extra["drain_ms"] - sum(b["durationMs"]["triggerExecution"]
                                  for b in r.extra["batches"])
        for r in drains) if drains else 0.0)

    def per_batch(fn) -> float:
        return statistics.mean(fn(b) for b in batches) if batches else 0.0

    for key, phase in (("latest_offset_ms", "latestOffset"),
                       ("query_planning_ms", "queryPlanning"),
                       ("add_batch_ms", "addBatch"),
                       ("wal_commit_ms", "walCommit"),
                       ("commit_offsets_ms", "commitOffsets")):
        m[f"streaming.{key}"] = per_batch(
            lambda b, p=phase: b["durationMs"].get(p, 0))
    for key, field in (("state_commit_ms", "commitTimeMs"),
                       ("state_update_ms", "allUpdatesTimeMs"),
                       ("state_instances", "numStateStoreInstances"),
                       ("state_rows", "numRowsTotal"),
                       ("state_mem_bytes", "memoryUsedBytes")):
        m[f"streaming.{key}"] = per_batch(
            lambda b, f=field: sum(op.get(f, 0) for op in b["stateOperators"]))
    rows_in = sum(b["numInputRows"] for b in batches)
    m["streaming.rows_out_per_in"] = (
        sum(b["sink"]["numOutputRows"] for b in batches) / rows_in
        if rows_in else 0.0)
    m["host.canary_jvm_ms"] = statistics.median(c[0] for c in canary)
    m["host.canary_py_ms"] = statistics.median(c[1] for c in canary)
    m["trace.overhead_ratio"] = counters.busy_s / wall_s
    return m


def write_trace(path: str, tracer, extra: dict) -> None:
    self_t = tracer.self_times()
    bad = [s["name"] for s in tracer.spans if self_t[s["id"]] < -1e-6]
    if bad:
        raise RuntimeError(f"spans with negative self time: {bad[:5]}")
    spans = [{**s, "self_ms": self_t[s["id"]] * 1e3} for s in tracer.spans]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"spans": spans, **extra}, fh, default=str)


# -- the run ---------------------------------------------------------------

def measure(spark, workload, inputs, args, work: str) -> tuple:
    """Warm-up job, canaries, timed jobs, canaries."""
    from jobs import Context
    from trace import ProgressListener, SparkCounters, Tracer
    spark.conf.set("spark.sql.streaming.checkpointLocation",
                   os.path.join(work, "checkpoints"))
    listener = ProgressListener()
    spark.streams.addListener(listener)
    tracer = Tracer(bool(args.trace))
    counters = SparkCounters(spark) if args.trace else None
    ctx = Context(spark, tracer, counters, listener, work)
    # JIT, codegen and Python workers are paid here, before timing.  They
    # do not depend on the shuffle width, so the warm-up runs one shuffle
    # partition per core: with the library's default width every stateful
    # micro-batch pays one state store per partition, which would double
    # the warm-up's cost and warm nothing more.  Timed jobs run at the
    # default width.
    key = "spark.sql.shuffle.partitions"
    width = spark.conf.get(key)
    spark.conf.set(key, str(args.cores))
    for _ in range(workload.warmup_jobs):
        warm = workload.run_job(ctx, inputs.shard("warmup"))
        _log("warm-up job done: " + json.dumps(
            {r.name: round(r.wall_ms) for r in warm}))
    spark.conf.set(key, width)
    canary = [canaries(spark, args.cores)]
    if counters is not None:
        counters.take()
    timed = [n for n in SHARDS if n != "warmup"]
    jobs = []
    t_start = time.perf_counter()
    while True:
        k = len(jobs)
        shard = inputs.shard(timed[k % len(timed)])
        tracer.job = k
        t0 = time.perf_counter()
        with tracer.span(f"job.{workload.name}") as sp:
            calls = workload.run_job(ctx, shard)
        jobs.append({"wall_s": time.perf_counter() - t0, "calls": calls,
                     "span": sp.get("id")})
        if (len(jobs) >= MIN_JOBS
                and time.perf_counter() - t_start >= args.seconds):
            break
    timed_s = time.perf_counter() - t_start
    _log(f"{len(jobs)} timed jobs done")
    canary.append(canaries(spark, args.cores, warm=True))
    return jobs, canary, jvm_rss_peak_mb(spark), timed_s, tracer, counters


def _descendants() -> list[int]:
    """Live processes that inherited this run's environment (the JVM and
    the Python worker daemon it forked), other than this one."""
    mark = f"SPARK_LOCAL_DIRS={os.environ['SPARK_LOCAL_DIRS']}".encode()
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/environ", "rb") as fh:
                if mark in fh.read().split(b"\0"):
                    pids.append(int(pid))
        except OSError:  # ended meanwhile, or not ours to read
            pass
    return [p for p in pids if p != os.getpid()]


def shutdown(spark) -> None:
    """Stop the session, then the JVM pyspark launched (it exits when its
    stdin closes), and wait until it and the worker daemon have ended."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while _descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


# -- main ------------------------------------------------------------------

def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count(),
                    help="local[N] width (default: all cores)")
    args = ap.parse_args(argv)

    _check_checkout()
    _environment()
    from jobs import WORKLOADS
    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}")
    workload = WORKLOADS[args.workload]
    inputs = Inputs(args.seed, workload)
    for name in SHARDS:
        inputs.shard(name)
    _log("inputs ready")

    spark, setup = start_session(args.cores)
    _log("session started")
    work = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        jobs, canary, rss, timed_s, tracer, counters = measure(
            spark, workload, inputs, args, work)
    finally:
        shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    calls = [r for j in jobs for r in j["calls"]]
    attempted = sum(len(r.gated) for r in calls)
    failed = sum(len(r.gated_failed) for r in calls)
    errors: dict[str, str] = {}
    for r in calls:
        for c in r.failed:
            kind = "failed" if c in r.gated else "known disagreement,"
            errors.setdefault(f"{kind} check {r.name}:{c}", r.error)
    for key, err in sorted(errors.items()):
        print(f"# {key}: {err}")
    e2e = end_to_end(jobs, setup, rss, workload)
    diag = {"jobs": len(jobs), "calls": len(calls),
            "calls_ms": [{r.name: round(r.wall_ms, 1) for r in j["calls"]}
                         for j in jobs],
            # calls that raised or whose full output differed from the
            # reference, gated or not
            "fail_ratio": sum("all" in r.failed for r in calls) / len(calls),
            "failed_checks": sorted(errors),
            "setup_ms": setup, "canary_ms": canary,
            "canary_normalized": {
                "job_p50_per_canary_py": e2e["job_p50_ms"]
                / statistics.mean(c[1] for c in canary),
                "job_p50_per_canary_jvm": e2e["job_p50_ms"]
                / statistics.mean(c[0] for c in canary)}}
    print("# diagnostics " + json.dumps(diag))
    metrics = dict(e2e)
    if args.trace:
        metrics.update(per_layer(jobs, setup, canary, tracer, counters,
                                 timed_s))
        metrics["check.fail_ratio"] = diag["fail_ratio"]
        write_trace(os.path.join(WORK, "traces",
                                 f"{workload.name}-seed{args.seed}.json"),
                    tracer, {"metrics": metrics, "diagnostics": diag})
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]],
                                "unit": m["unit"]} for m in spec}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
