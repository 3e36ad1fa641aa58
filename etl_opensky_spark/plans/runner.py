"""Minimal pipeline runner (reference: src/dags/flights_daily.py).

Replaces Airflow with a topologically-ordered in-process runner that
preserves the DAG's control semantics (SURVEY §2.14):

- dependency order ``[upload, create_tbls] >> dims >> fact``;
- a task may return/raise SKIPPED; downstream runs anyway when its
  trigger rule is "none_failed" (reference: src/dags/flights_daily.py:113-116);
- per-task retry budget (reference: 5 × 10 s on the flaky REST extract,
  src/dags/flights_daily.py:57-58);
- a task that exhausts its retries is FAILED; its last exception is kept in
  ``Pipeline.errors`` and logged with its traceback.
"""

from __future__ import annotations

import enum
import logging
import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

logger = logging.getLogger(__name__)


class TaskStatus(enum.Enum):
    SUCCESS = "success"
    SKIPPED = "skipped"
    FAILED = "failed"
    UPSTREAM_FAILED = "upstream_failed"


class SkipTask(Exception):
    """Raise inside a task to mark it skipped (≈ AirflowSkipException)."""


@dataclass
class Task:
    name: str
    fn: Callable[[], object]
    depends_on: Sequence[str] = ()
    retries: int = 0
    retry_delay_s: float = 0.0
    trigger_rule: str = "all_success"  # or "none_failed"


@dataclass
class Pipeline:
    tasks: list[Task] = field(default_factory=list)
    #: the exception that failed each FAILED task of the last ``run``
    errors: dict[str, Exception] = field(default_factory=dict)

    def add(self, task: Task) -> "Pipeline":
        self.tasks.append(task)
        return self

    def _topo_order(self) -> list[Task]:
        by_name = {t.name: t for t in self.tasks}
        seen: dict[str, int] = {}  # 0=visiting, 1=done
        order: list[Task] = []

        def visit(name: str) -> None:
            state = seen.get(name)
            if state == 1:
                return
            if state == 0:
                raise ValueError(f"dependency cycle at task {name!r}")
            seen[name] = 0
            for dep in by_name[name].depends_on:
                if dep not in by_name:
                    raise ValueError(f"unknown dependency {dep!r} of {name!r}")
                visit(dep)
            seen[name] = 1
            order.append(by_name[name])

        for t in self.tasks:
            visit(t.name)
        return order

    def run(self) -> dict[str, TaskStatus]:
        """Execute all tasks respecting dependencies; returns per-task status."""
        results: dict[str, TaskStatus] = {}
        self.errors = {}
        for task in self._topo_order():
            upstream = [results[d] for d in task.depends_on]
            any_failed = any(
                s in (TaskStatus.FAILED, TaskStatus.UPSTREAM_FAILED) for s in upstream
            )
            if any_failed:
                results[task.name] = TaskStatus.UPSTREAM_FAILED
                continue
            if task.trigger_rule != "none_failed" and any(
                s is TaskStatus.SKIPPED for s in upstream
            ):
                # Airflow all_success semantics: a skipped upstream skips
                # (not fails) the downstream task
                results[task.name] = TaskStatus.SKIPPED
                continue
            results[task.name] = self._run_one(task)
        return results

    def _run_one(self, task: Task) -> TaskStatus:
        for attempt in range(task.retries + 1):
            try:
                out = task.fn()
                if out == "skipped":
                    return TaskStatus.SKIPPED
                return TaskStatus.SUCCESS
            except SkipTask:
                return TaskStatus.SKIPPED
            except Exception as exc:
                if attempt == task.retries:
                    self.errors[task.name] = exc
                    logger.exception(
                        "task %s failed after %d attempt(s)", task.name, attempt + 1
                    )
                    return TaskStatus.FAILED
                if task.retry_delay_s:
                    time.sleep(task.retry_delay_s)
        return TaskStatus.FAILED
