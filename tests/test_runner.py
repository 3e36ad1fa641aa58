"""Runner tests: topological order, skip/trigger-rule semantics, retries
(reference DAG semantics, src/dags/flights_daily.py:113-150)."""

from __future__ import annotations

import logging

import pytest

from etl_opensky_spark.plans.runner import Pipeline, SkipTask, Task, TaskStatus


def test_topological_order_and_success():
    log = []
    p = Pipeline()
    p.add(Task("fact", lambda: log.append("fact"), depends_on=["dims"]))
    p.add(Task("dims", lambda: log.append("dims"), depends_on=["upload", "ddl"]))
    p.add(Task("upload", lambda: log.append("upload")))
    p.add(Task("ddl", lambda: log.append("ddl")))
    results = p.run()
    assert log.index("dims") > log.index("upload") > -1
    assert log.index("fact") == len(log) - 1
    assert all(s is TaskStatus.SUCCESS for s in results.values())


def test_skip_does_not_block_none_failed():
    p = Pipeline()
    p.add(Task("upload", lambda: (_ for _ in ()).throw(SkipTask())))
    p.add(
        Task("dims", lambda: "ok", depends_on=["upload"], trigger_rule="none_failed")
    )
    p.add(Task("strict", lambda: "ok", depends_on=["upload"]))
    results = p.run()
    assert results["upload"] is TaskStatus.SKIPPED
    assert results["dims"] is TaskStatus.SUCCESS  # none_failed tolerates skip
    assert results["strict"] is TaskStatus.SKIPPED  # all_success propagates skip


def test_failure_blocks_downstream():
    p = Pipeline()
    p.add(Task("a", lambda: 1 / 0))
    p.add(Task("b", lambda: "ok", depends_on=["a"], trigger_rule="none_failed"))
    results = p.run()
    assert results["a"] is TaskStatus.FAILED
    assert results["b"] is TaskStatus.UPSTREAM_FAILED


def test_retries():
    attempts = {"n": 0}

    def flaky():
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise RuntimeError("flaky")
        return "ok"

    p = Pipeline().add(Task("x", flaky, retries=5))
    assert p.run()["x"] is TaskStatus.SUCCESS
    assert attempts["n"] == 3


def test_failed_task_keeps_its_exception(caplog):
    boom = ValueError("bad payload")
    attempts = {"n": 0}

    def fail():
        attempts["n"] += 1
        raise boom

    p = Pipeline().add(Task("x", fail, retries=1)).add(Task("ok", lambda: "ok"))
    with caplog.at_level(logging.ERROR, logger="etl_opensky_spark.plans.runner"):
        results = p.run()
    assert results == {"x": TaskStatus.FAILED, "ok": TaskStatus.SUCCESS}
    assert p.errors == {"x": boom} and attempts["n"] == 2
    # logged once, on the final failure, with the traceback
    [record] = caplog.records
    assert "task x failed after 2 attempt(s)" in record.getMessage()
    assert record.exc_info[1] is boom
    # a later run reports only its own failures
    p.tasks[0].fn = lambda: "ok"
    assert p.run()["x"] is TaskStatus.SUCCESS and p.errors == {}


def test_cycle_detected():
    p = Pipeline()
    p.add(Task("a", lambda: 1, depends_on=["b"]))
    p.add(Task("b", lambda: 1, depends_on=["a"]))
    with pytest.raises(ValueError, match="cycle"):
        p.run()


def test_skipped_return_value():
    p = Pipeline().add(Task("dates", lambda: "skipped"))
    assert p.run()["dates"] is TaskStatus.SKIPPED


# --- declarative spec loader -------------------------------------------------


def test_spec_compiles_and_runs_in_dependency_order():
    from etl_opensky_spark.plans.spec import load_pipeline

    ran = []
    reg = {
        "a": lambda: ran.append("a"),
        "b": lambda: ran.append("b"),
        "c": lambda: ran.append("c"),
    }
    spec = {
        "tasks": [
            {"name": "fact", "op": "c", "depends_on": ["ext", "dims"]},
            {"name": "dims", "op": "b", "depends_on": ["ext"]},
            {"name": "ext", "op": "a"},
        ]
    }
    statuses = load_pipeline(spec, reg).run()
    assert ran == ["a", "b", "c"]
    assert all(s is TaskStatus.SUCCESS for s in statuses.values())


def test_spec_validation_fails_before_any_run():
    import pytest as _pytest

    from etl_opensky_spark.plans.spec import load_pipeline

    ran = []
    reg = {"a": lambda: ran.append("a")}
    bad_specs = [
        ({"tasks": []}, "non-empty"),
        ({"tasks": [{"name": "x", "op": "nope"}]}, "not in registry"),
        ({"tasks": [{"name": "x", "op": "a", "depends_on": ["ghost"]}]},
         "unknown dependencies"),
        ({"tasks": [{"name": "x", "op": "a"}, {"name": "x", "op": "a"}]},
         "duplicate"),
        ({"tasks": [{"name": "x", "op": "a", "typo_key": 1}]}, "unknown keys"),
        ({"tasks": [{"name": "x", "op": "a", "trigger_rule": "sometimes"}]},
         "trigger_rule"),
    ]
    for spec, msg in bad_specs:
        with _pytest.raises(ValueError, match=msg):
            load_pipeline(spec, reg)
    assert ran == []  # nothing ever executed
