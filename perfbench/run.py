"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --driver-memory 1g --workload daily_backfill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  The line before it gives the end-to-end numbers under
the workload's own names (``day_load_s.p50``, ...) with sample counts, and
the workload's unbounded metrics.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("daily_backfill", "star_queries", "lake_upserts")


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--driver-memory", default="1g",
                   help="driver JVM heap; keep it well below physical RAM")
    return p.parse_args(argv)


def pin_environment(run_dir: str, driver_memory: str) -> None:
    """Every core this process may use, an explicit driver heap, and all
    scratch (Spark, Python and JVM temp files) inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in /tmp; JVM temp files in the run directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # the star schema generator and the oracle comparison of tools/
    sys.path.append(os.path.join(ROOT, "tools"))
    try:
        importlib.import_module("etl_opensky_spark")
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from harness import Bench, p50, p90

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    pin_environment(run_dir, args.driver_memory)

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    workload = importlib.import_module(args.workload)
    try:
        try:
            out = workload.run(bench)
            peak_rss = bench.peak_rss_mb()
        finally:
            bench.shutdown()
        if args.trace:
            bench.tracer.attach_event_log(bench.event_dir)
            bench.tracer.inclusive()
            layers = out["layer_metrics"]()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    primary, secondary = bench.ops[out["primary"]], bench.ops[out["secondary"]]
    ok = bool(primary) and bool(secondary)
    # role name -> (value, unit, samples, the workload's own name)
    op, op2 = out["labels"]
    e2e = {
        "setup_s": (p50(bench.setup_times), "s", len(bench.setup_times), "setup_s"),
        "peak_rss_mb": (peak_rss, "MB", 1, "peak_rss_mb"),
        "op_s.p50": (p50(primary) if ok else 0.0, "s", len(primary), f"{op}_s.p50"),
        "op2_s.p50": (p50(secondary) if ok else 0.0, "s", len(secondary), f"{op2}_s.p50"),
    }
    # printed, not bounded: a run holds too few ops for a bounded tail
    # percentile
    info = {
        f"{op}_s.p90": (p90(primary) if ok else 0.0, "s", len(primary)),
        **out["extra"],
    }
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, **out["notes"],
        "metrics": {
            **{name: {"value": v, "unit": u, "n": n} for v, u, n, name in e2e.values()},
            **{k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in info.items()},
        },
        "samples_s": {k: [round(x, 4) for x in v] for k, v in bench.ops.items()},
    }))

    if args.trace:
        tr = bench.tracer
        spans_path = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}.spans.json")
        tr.write(spans_path)
        op_span, op2_span = f"op.{out['primary']}", f"op.{out['secondary']}"
        metrics = {
            "session.get_spark_s": (tr.median("session.get_spark"), "s"),
            **{f"spark.{c}": (tr.mean_counter(op_span, c), u) for c, u in (
                ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                ("single_task_stages", "count"), ("executor_run_s", "s"),
                ("gc_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"))},
            "op2.spark.jobs": (tr.mean_counter(op2_span, "jobs"), "count"),
            "op2.spark.tasks": (tr.mean_counter(op2_span, "tasks"), "count"),
            "trace.bookkeeping_s_per_op": (
                tr.bookkeeping_s / max(1, len(primary) + len(secondary)), "s"),
        }
        print(json.dumps({"workload": args.workload,
                          "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
                          "spans": os.path.relpath(spans_path, ROOT)}))
    else:
        metrics = {k: (v, u) for k, (v, u, _n, _name) in e2e.items()}

    correct = ok and bench.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
