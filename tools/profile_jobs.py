"""Job-count profiler: run catalog queries one at a time and report, for
building the frame and for executing it, the wall seconds and HOW MANY
Spark jobs and tasks each phase fires (statusTracker job groups).  At small
scale most queries are bound by fixed per-job scheduling cost, so the job
count is the first-order explanation of wall time, and a job launched
while merely building a query (schema inference, an eager action in the
builder) is waste the build column shows.

Execution is timed through ``collect()``, as ``perfbench`` does: a
``count()`` would let Catalyst prune every output column.

Usage: python tools/profile_jobs.py [--sf DIR] [--n 1] query [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--n", type=int, default=1)
    args = ap.parse_args()

    from etl_opensky_spark.queries import QUERIES
    from etl_opensky_spark.session import get_spark

    spark = get_spark("profile_jobs")
    spark.read.parquet(f"{args.sf}/region.parquet").count()
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def phase(group: str, fn):
        """(result, wall seconds, jobs, tasks) of ``fn`` run under ``group``."""
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            wall = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        job_ids = tracker.getJobIdsForGroup(group)
        n_tasks = 0
        for jid in job_ids:
            ji = tracker.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None:
                    n_tasks += si.numTasks
        return out, wall, len(job_ids), n_tasks

    for name in args.queries:
        fn = QUERIES[name]
        for i in range(args.n):
            df, b_wall, b_jobs, b_tasks = phase(f"{name}_run{i}_build", lambda: fn(spark, args.sf))
            rows, e_wall, e_jobs, e_tasks = phase(f"{name}_run{i}_exec", df.collect)
            print(
                f"{name} run{i}: build={b_wall:.3f}s jobs={b_jobs} tasks={b_tasks} | "
                f"exec={e_wall:.3f}s jobs={e_jobs} tasks={e_tasks} rows={len(rows)}",
                flush=True,
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
