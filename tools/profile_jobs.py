"""Round-11 job-count profiler: run catalog queries one at a time and
report wall seconds + HOW MANY Spark jobs each fires (statusTracker job
groups).  At bench scale (sf0.1, tiny data) most lifecycle gates are
bound by fixed per-job scheduling and per-commit protocol costs, so the
job count is the first-order explanation of wall time (guide §1.2 —
"the distributed algorithm" includes not launching jobs you don't
need).

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

    for name in args.queries:
        fn = QUERIES[name]
        for i in range(args.n):
            group = f"{name}_run{i}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            rows = df.count()
            wall = time.perf_counter() - t0
            sc.setJobGroup(None, None)
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
            print(
                f"{name} run{i}: wall={wall:.3f}s jobs={len(job_ids)} "
                f"tasks={n_tasks} rows={rows}",
                flush=True,
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
