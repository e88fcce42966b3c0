"""Round-over-round bench tracker: flag per-query regressions.

Usage::

    python bench.py > /tmp/bench_now.json
    python tools/bench_compare.py BENCH_r01.json /tmp/bench_now.json

Exits 1 if any query regressed more than ``THRESHOLD`` (default 1.5x) vs
the baseline round, so a perf regression fails loudly before commit.
Driver-recorded rounds (``BENCH_r{N}.json``) wrap the bench line under a
"parsed" key; raw ``bench.py`` output is the line itself — both accepted.

When both artifacts carry the ``gc_ms`` columns (bench_full_r* written
from round 8 on), each regression is annotated with the GC-time delta of
the best run and tagged ``gc-suspect`` when GC growth explains at least
half of the wall growth — separating a genuine plan regression (time up,
GC flat) from shared-JVM GC/memory noise (time and GC up together, the
r7 `embedding_near_dups` 9.2s-shared vs 5.2s-isolated case) without
reruns.

After the regression lines it prints every query's seconds saved,
largest first (queries under ``MIN_SEC`` on both sides are left out),
then the common-query totals and the median per-query ratio.
"""

from __future__ import annotations

import json
import statistics
import sys

THRESHOLD = 1.5

#: the saved-seconds table skips queries this fast on both sides
MIN_SEC = 0.3


def load(path: str) -> dict:
    with open(path) as fh:
        doc = json.load(fh)
    return doc.get("parsed", doc)


#: the one picking rule this comparer knows how to recompute; bench.py
#: stamps it in ``timing_method`` — if a future artifact declares a
#: DIFFERENT method, we must NOT re-derive with a stale rule
_KNOWN_METHOD = "median_all_reps_under_2s_else_min_first2"


def _usable_runs(doc: dict) -> dict:
    """``all_runs`` with Nones dropped, or {} when the artifact's
    ``timing_method`` names a rule this comparer does not know (re-
    deriving with a stale rule would manufacture spurious
    regressions)."""
    method = doc.get("timing_method")
    if method is not None and method != _KNOWN_METHOD:
        return {}
    return {name: [x for x in (rs or []) if x is not None]
            for name, rs in (doc.get("all_runs") or {}).items()}


def _normalize_timings(doc: dict, runs: dict, tiers: dict) -> dict:
    """Per-query times recomputed from raw reps under the round-9
    picking rule — median of all reps for sub-2s rows, min-of-first-2
    otherwise — with the sub-2s/over-2s TIER decided once per query
    from BOTH artifacts together (``tiers``, from :func:`_joint_tiers`)
    rather than per artifact.  A per-artifact tier pick lets a query
    whose min(rs[:2]) straddles the 2.0s boundary between rounds get a
    median-vs-min comparison — exactly the asymmetry this normalization
    exists to remove.  Artifacts without all_runs (driver BENCH_r
    files) are used as recorded."""
    q = dict(doc.get("queries", {}))
    for name, rs in runs.items():
        if rs and name in q:
            q[name] = (round(statistics.median(rs), 3)
                       if tiers.get(name) == "median" else min(rs[:2]))
    return q


def _joint_tiers(base_runs: dict, now_runs: dict) -> dict:
    """One statistic per query, shared by both sides: ``median`` if the
    SMALLER of the two artifacts' min(rs[:2]) is under 2.0s (so a row
    that is sub-2s in either round diffs median-vs-median), ``min``
    otherwise.  Queries with reps in only one artifact tier on that
    artifact alone."""
    tiers = {}
    for name in set(base_runs) | set(now_runs):
        mins = [min(rs[:2]) for rs in (base_runs.get(name),
                                       now_runs.get(name)) if rs]
        if mins:
            tiers[name] = "median" if min(mins) < 2.0 else "min"
    return tiers


def _min_or_none(xs):
    xs = [x for x in (xs or []) if x is not None]
    return min(xs) if xs else None


def print_saved(bq: dict, nq: dict) -> None:
    """Seconds saved per common query, largest first, then the totals
    and the median per-query ratio."""
    common = sorted(set(bq) & set(nq))
    rows = sorted(((bq[n] - nq[n], n) for n in common
                   if max(bq[n], nq[n]) >= MIN_SEC), reverse=True)
    print(f"\n{'query':34s} {'before':>8s} {'after':>8s} {'ratio':>6s} "
          f"{'saved':>7s}")
    for saved, n in rows:
        ratio = nq[n] / bq[n] if bq[n] else float("inf")
        print(f"{n:34s} {bq[n]:8.3f} {nq[n]:8.3f} {ratio:6.2f} "
              f"{saved:7.3f}")
    tb = sum(bq[n] for n in common)
    ta = sum(nq[n] for n in common)
    ratios = [nq[n] / bq[n] for n in common if bq[n] > 0]
    if tb and ratios:
        print(f"common {len(common)} queries: total {tb:.1f}s -> "
              f"{ta:.1f}s ({ta / tb:.3f}x), median per-query ratio "
              f"{statistics.median(ratios):.3f}")


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, now = load(sys.argv[1]), load(sys.argv[2])
    # the streaming tier (bench.py STREAM, keys stream_queries) diffs with
    # the same rules; tiers are merged with distinct names so a query
    # can't shadow its batch twin
    base_runs, now_runs = _usable_runs(base), _usable_runs(now)
    tiers = _joint_tiers(base_runs, now_runs)
    bq = dict(_normalize_timings(base, base_runs, tiers),
              **base.get("stream_queries", {}))
    nq = dict(_normalize_timings(now, now_runs, tiers),
              **now.get("stream_queries", {}))
    b_gc, n_gc = base.get("gc_ms", {}), now.get("gc_ms", {})
    regressed = []
    for name, t_now in sorted(nq.items()):
        t_base = bq.get(name)
        if t_base is None:
            print(f"new    {name}: {t_now:.2f}s (no baseline)")
            continue
        ratio = t_now / t_base if t_base else float("inf")
        tag = "REGRESS" if ratio > THRESHOLD else (
            "better " if ratio < 1 / THRESHOLD else "ok     ")
        gc_note = ""
        ga, gb = _min_or_none(b_gc.get(name)), _min_or_none(n_gc.get(name))
        if ga is not None and gb is not None:
            gc_note = f"  gc {ga}->{gb}ms"
            d_wall_ms = (t_now - t_base) * 1000.0
            if ratio > THRESHOLD and d_wall_ms > 0 \
                    and (gb - ga) >= 0.5 * d_wall_ms:
                gc_note += " gc-suspect"
        print(f"{tag}{name}: {t_base:.2f}s -> {t_now:.2f}s "
              f"({ratio:.2f}x){gc_note}")
        if ratio > THRESHOLD:
            regressed.append(name)
    # a query that vanished (crashed, renamed, dropped from bench.py) is
    # worse than a slow one — fail on it, don't silently skip it.
    # Exception: a baseline WITH a stream tier diffed against a run that
    # skipped it (SPARK_GRAFT_BENCH_STREAMS=0) should not fail on the 16
    # stream rows — they were skipped, not lost
    missing = sorted(set(bq) - set(nq))
    if base.get("stream_queries") and not now.get("stream_queries"):
        skipped = set(base["stream_queries"])
        for name in sorted(missing):
            if name in skipped:
                print(f"skip   {name}: stream tier not run this round")
        missing = [n for n in missing if n not in skipped]
    for name in missing:
        print(f"MISSING{name}: {bq[name]:.2f}s in baseline, absent now")
    print_saved(bq, nq)
    print(f"\ntotal: {base['value']:.2f}s -> {now['value']:.2f}s")
    if regressed or missing:
        if regressed:
            print(f"{len(regressed)} regressions over {THRESHOLD}x: "
                  f"{regressed}")
        if missing:
            print(f"{len(missing)} baseline queries missing: {missing}")
        sys.exit(1)
    print("no per-query regression over threshold")


if __name__ == "__main__":
    main()
