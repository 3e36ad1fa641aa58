"""Shared run machinery: session start, repeated set-up, closed-loop op
timing, failure accounting, peak RSS and process shutdown."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from collections.abc import Callable

from spans import Tracer

#: set-up repetitions per run; ``setup_s`` is their median
SETUP_REPS = 3


def p50(values: list[float]) -> float:
    return statistics.median(values)


def p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


#: what ``Bench.timed`` returns for an op that raised
FAILED = object()


class OutputCheckError(AssertionError):
    pass


def expect(cond: bool, msg: str) -> None:
    """Output check that survives ``python -O``."""
    if not cond:
        raise OutputCheckError(msg)


class Bench:
    """One run of one workload: closed loop, one client."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, run_dir: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.run_dir = run_dir
        self.tracer = Tracer(trace)
        self.event_dir = os.path.join(run_dir, "events")
        self.ops: dict[str, list[float]] = defaultdict(list)
        self.op_time = 0.0  # seconds spent inside timed ops
        self.setup_times: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.spark = None

    # --- session and set-up -------------------------------------------------

    def start_session(self, warehouse_dir: str):
        """A fresh SparkSession (new SparkContext in the same JVM) over its
        own warehouse directory."""
        from pyspark.sql import SparkSession

        from etl_opensky_spark.session import get_spark

        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        extra = {}
        if self.tracer.enabled:
            os.makedirs(self.event_dir, exist_ok=True)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                f"perfbench.{self.workload}", warehouse_dir=warehouse_dir, extra_conf=extra
            )
        return self.spark

    def setup(self, fn: Callable[[str], object]) -> object:
        """Run ``fn(rep_dir)`` SETUP_REPS times, each in a fresh directory
        and session; keep the last state, record every duration."""
        state = None
        for rep in range(SETUP_REPS):
            rep_dir = os.path.join(self.run_dir, f"rep{rep}")
            os.makedirs(rep_dir)
            t0 = time.perf_counter()
            with self.tracer.span("bench.setup"):
                state = fn(rep_dir)
            self.setup_times.append(time.perf_counter() - t0)
        return state

    # --- measured ops -------------------------------------------------------

    def more(self) -> bool:
        return self.op_time < self.seconds

    def timed(self, kind: str, fn: Callable[[], object]) -> object:
        """Run one op; its wall time goes to ``ops[kind]``.  An exception
        counts as a failed op.  Returns what ``fn`` returned, or ``FAILED``."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                out = fn()
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return FAILED
        finally:
            dt = time.perf_counter() - t0
            self.op_time += dt
        self.ops[kind].append(dt)
        return out

    def warmup(self, fn: Callable[[], object]) -> object:
        """An untimed op before the measured ones, so the first JVM runs of
        a plan's code paths (class loading, code generation, JIT) do not
        land in the samples.  A failure still counts as a failed op."""
        self.attempted += 1
        try:
            with self.tracer.span("bench.warmup"):
                return fn()
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return FAILED

    def check(self, name: str, fn: Callable[[], None]) -> None:
        """Untimed output check; a failure counts as a failed op."""
        self.attempted += 1
        try:
            fn()
        except Exception:  # noqa: BLE001 — report and count every failed check
            self.failed += 1
            print(f"output check failed: {name}", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)

    # --- resources ------------------------------------------------------------

    @staticmethod
    def _jvm_pid() -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def peak_rss_mb(self) -> float:
        """Peak resident set of this Python process plus the driver JVM
        (sum of the two high-water marks)."""
        pids = [os.getpid(), self._jvm_pid()]
        total_kb = 0
        for pid in filter(None, pids):
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        return total_kb / 1024

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
