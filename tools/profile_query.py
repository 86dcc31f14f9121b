"""Per-query profiler for the optimization rounds.

For each named query: optionally dumps `explain("formatted")` to
plans/<tag>/<name>_<suffix>.txt, then times N noop-sink runs in one
warmed session (same protocol as bench.py: force() via the noop sink,
release_scaffold_caches between runs), printing each run's wall time,
Spark jobs and stages (the stage ids of those jobs, skipped ones
included).

Usage:
    python tools/profile_query.py [--sf-dir DIR] [--runs N]
        [--plan-dir plans/r12] [--suffix before] [--no-plan] query ...
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from henbun_spark import sources
from henbun_spark.operators import relational


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    spark = sources.get_spark("henbun-profile")
    qs = entry_mod.queries()
    # same warmup as bench.py
    for warm in ("q1_pricing_summary", "density_poisson"):
        try:
            qs[warm](spark, args.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass
    relational.release_scaffold_caches()

    for name in args.queries:
        fn = qs[name]
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            df = fn(spark, args.sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(args.plan_dir, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            relational.release_scaffold_caches()
            print(f"# plan -> {path}", flush=True)
        runs, jobs, stages = [], [], []
        tracker = spark.sparkContext.statusTracker()
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"profile {name} run{i}")
            before = set(tracker.getJobIdsForGroup(None))
            t0 = time.time()
            fn(spark, args.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(round(time.time() - t0, 3))
            new = set(tracker.getJobIdsForGroup(None)) - before
            jobs.append(len(new))
            stages.append(sum(len(tracker.getJobInfo(j).stageIds) for j in new))
            relational.release_scaffold_caches()
        spark.sparkContext.setJobDescription(None)
        print(
            f"{name}: runs={runs} min={min(runs)} jobs={jobs} stages={stages}",
            flush=True,
        )


if __name__ == "__main__":
    main()
