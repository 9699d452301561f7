#!/usr/bin/env python
"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <float>}

Each query is materialized with the noop sink (full execution, no
driver-side collect cost). A tiny warm-up query first amortizes JVM/
codegen startup out of the per-query numbers; each query then runs
SPARK_GRAFT_REPS times (default 3) and reports the min — the first
run pays one-off Janino compilation of its generated code (seconds
for the wide signature expressions), which is plan-compile cost, not
per-byte execution cost, and would dominate tiny-SF timings while
being irrelevant at 100 TB; the extra repetition damps the ~25%
inter-run variance this box shows at sub-second query sizes.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from impala_hashset_count_spark.plans import all_queries  # noqa: E402
from impala_hashset_count_spark.session import get_spark  # noqa: E402


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    spark = get_spark("ihc-spark-bench")

    queries = {n: q for n, q in all_queries().items() if q.headline}
    # SPARK_GRAFT_QUERIES=a,b,c restricts the run to a named subset —
    # used for scale-stress runs (sf10) on the cheap-query set; the
    # driver contract (unset -> full headline set) is unchanged
    subset = os.environ.get("SPARK_GRAFT_QUERIES")
    if subset:
        want = {s.strip() for s in subset.split(",") if s.strip()}
        queries = {
            n: q for n, q in all_queries().items() if n in want
        }

    # Warm-up: session, codegen, parquet footer caches.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warm = queries.get("multi_distinct_lineitem") or next(iter(queries.values()))
    materialize(warm.fn(spark, sf_dir))

    # Repetitions per query: min-of-3 by default (this box shows ~25%
    # inter-run variance at sub-second query sizes, and the round-6
    # floors are tight enough that one slow pass of a 0.3 s query reads
    # as a 1.5x ratio). Scale-stress runs (sf1+) set SPARK_GRAFT_REPS=2
    # or 1 — at tens of seconds per query the variance is already
    # amortized and a third pass only costs wall-clock.
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "3"))

    def time_best(build) -> float:
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            materialize(build(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
            # Builders that persist intermediates (e.g. minhash doc
            # arrays) would otherwise accumulate a live cached copy per
            # iteration, pressuring memory and skewing later queries.
            spark.catalog.clearCache()
        return round(best, 3)

    timings: dict[str, float] = {}
    arm_timings: dict[str, float] = {}
    for name, q in sorted(queries.items()):
        timings[name] = time_best(q.fn)
    # Per-arm attribution for multi-arm entries — ALL of them, headline
    # or not: each arm is a standalone plan (shared sub-plans rebuilt),
    # so arm times attribute growth to a family; they need not sum to
    # the entry's time and are never part of the headline total.
    # SPARK_GRAFT_ARMS=0 skips them (used for long scale-stress runs
    # at sf1+ where only the headline set is being scaled-checked).
    if os.environ.get("SPARK_GRAFT_ARMS", "1") != "0":
        arm_source = all_queries() if not subset else queries
        for name, q in sorted(arm_source.items()):
            for arm_name, arm_fn in (q.arms or {}).items():
                arm_timings[f"{name}/{arm_name}"] = time_best(arm_fn)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if arm_timings:
        out["arms"] = arm_timings
    line = json.dumps(out)
    # Defensive output contract (r9 verdict #8): BENCH_r08's ~3.5 kB
    # one-line JSON failed to parse on the driver side, zeroing that
    # round's PERF comparison. The headline contract line (metric /
    # value / unit / queries / sf) is ~0.7 kB; the optional "arms"
    # attribution block is what grows. Keep arms inline only while the
    # full line stays under a size guard, and ALWAYS mirror the full
    # record to the git-ignored .localdata/ next to this script so the
    # per-arm numbers survive even when stdout is truncated or
    # unparsed. Timings and methodology are unchanged — this is output
    # plumbing only.
    if len(line) > 8000:
        out.pop("arms", None)
        line = json.dumps(out)
    try:
        full = dict(out, arms=arm_timings) if arm_timings else out
        mirror_dir = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), ".localdata"
        )
        os.makedirs(mirror_dir, exist_ok=True)
        with open(os.path.join(mirror_dir, "BENCH_LOCAL_LAST.json"), "w") as fh:
            json.dump(full, fh)
    except OSError:
        pass  # read-only checkout: stdout line is still the contract
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
