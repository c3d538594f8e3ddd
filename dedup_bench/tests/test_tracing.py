"""The event-log fold gives known sums on a canned log."""

from __future__ import annotations

import json

import pytest

from dedup_bench import tracing

MB = 2**20


def _task(stage: int, run_ms: int, cpu_ns: int, gc_ms: int, peak: int, read: int, written: int, spill: int) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Peak Execution Memory": peak,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": spill,
        },
    }


def _stage(stage: int, tag: str | None) -> dict:
    props = {tracing.TAG: tag} if tag else {}
    return {
        "Event": "SparkListenerStageSubmitted",
        "Stage Info": {"Stage ID": stage, "Stage Attempt ID": 0},
        "Properties": props,
    }


def test_fold_sums_canned_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": {tracing.TAG: "3:s3_candidates"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": {tracing.TAG: "3:s3_candidates"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Properties": {}},
        _stage(0, "3:s3_candidates"),
        _stage(1, "3:s3_candidates"),
        _stage(2, None),
        _task(0, 1500, 2_000_000_000, 100, 4 * MB, 0, 3 * MB, 0),
        _task(0, 500, 500_000_000, 0, 8 * MB, 0, 1 * MB, MB),
        _task(1, 1000, 1_000_000_000, 50, 2 * MB, 5 * MB, 0, 0),
        _task(2, 9999, 9_000_000_000, 999, 99 * MB, 9 * MB, 9 * MB, 9 * MB),
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Stage Attempt ID": 0},
    ]
    log = tmp_path / "app"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    folded = tracing.fold_event_log(str(log))
    assert set(folded) == {"3:s3_candidates"}
    got = folded["3:s3_candidates"]
    assert got["spark_jobs"] == 2
    assert got["tasks"] == 3
    assert got["executor_run_s"] == pytest.approx(3.0)
    assert got["executor_cpu_s"] == pytest.approx(3.5)
    assert got["gc_s"] == pytest.approx(0.15)
    assert got["peak_exec_mem_mb"] == pytest.approx(8.0)
    assert got["shuffle_read_mb"] == pytest.approx(5.0)
    assert got["shuffle_write_mb"] == pytest.approx(4.0)
    assert got["spill_mb"] == pytest.approx(2.0)


def test_event_log_file_requires_one_finished_log(tmp_path):
    (tmp_path / "local-1.inprogress").write_text("")
    with pytest.raises(RuntimeError):
        tracing.event_log_file(str(tmp_path))
    (tmp_path / "local-2").write_text("")
    assert tracing.event_log_file(str(tmp_path)).endswith("local-2")


class _Context:
    def __init__(self):
        self.props: dict[str, str] = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value


class _Spark:
    sparkContext = _Context()


def test_wrapped_call_is_named_by_innermost_span():
    class Owner:
        def call(self, path):
            return path

    original = Owner.call
    tracer = tracing.Tracer(_Spark())
    tracer.job = 1
    tracer._wrap_in_span(
        Owner, "call", lambda top, args: f"{top}.write" if top == "s2_exact" else None
    )
    assert Owner().call("outside") == "outside"
    with tracer.span("s2_exact"):
        assert Owner().call("inside") == "inside"
    tracer.uninstall()
    assert Owner.call is original
    assert [s.name for s in tracer.spans] == ["s2_exact.write", "s2_exact"]
    assert set(tracer.job_spans(1)) == {"s2_exact", "s2_exact.write"}


def test_stage_split_and_span_cover():
    import run

    job = run.Job(k=2, wall_s=10.0, cpu_s=0.0, ok=True, traced=True)
    spans = {
        "cli.run": 10.0,
        "s1_signatures": 3.0,
        "s1_signatures.compute": 0.5,
        "s1_signatures.materialize": 1.5,
        "s1_signatures.write": 0.6,
        "s2_exact": 6.0,
        "s2_exact.write": 5.5,
        "output.write": 0.4,
        "driver.read": 0.3,
    }
    folded = {
        "2:s1_signatures.materialize": {"tasks": 4.0, "peak_exec_mem_mb": 3.0},
        "2:s1_signatures.write": {"tasks": 2.0, "peak_exec_mem_mb": 5.0},
        "3:s1_signatures": {"tasks": 99.0},
    }
    out = run.stage_layers(job, spans, folded)
    assert out["s1_signatures.compute_s"] == pytest.approx(2.0)
    assert out["s1_signatures.write_s"] == pytest.approx(0.6)
    assert out["s1_signatures.commit_s"] == pytest.approx(0.4)
    assert out["s2_exact.compute_s"] == 0.0
    assert out["s2_exact.commit_s"] == pytest.approx(0.5)
    assert out["s1_signatures.tasks"] == 6.0
    assert out["s1_signatures.peak_exec_mem_mb"] == 5.0
    assert out["trace.span_cover_frac"] == pytest.approx(0.97)
