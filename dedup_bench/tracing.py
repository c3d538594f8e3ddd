"""Spans around the program's public calls, Spark job tags, and the fold
of Spark's event log into per-stage task metrics.

Everything is recorded from the benchmark's side of the program's API:

- ``StageStore.read_or_compute`` gets a stage span, and the ``compute``
  callable it receives a ``<stage>.compute`` child span;
- inside the stage span, after ``compute`` returns, ``StageStore.write``'s
  ``persist().count()`` (stages committed with ``materialize_first``) gets
  a ``<stage>.materialize`` span and its parquet write a ``<stage>.write``
  span. ``compute`` mostly returns a lazy plan: a stage that is not
  materialized first runs that plan inside its snapshot write, so for
  those stages the write span holds compute that cannot be told apart
  from outside the program;
- final output writes (``DataFrameWriter.parquet`` to a path the job
  names as an output) get an ``output.write`` span, and the reads and
  collects the driver makes outside every stage (input and output
  listing, the output's aggregate pass, the re-read of a committed
  snapshot) a ``driver.read`` span;
- every Spark job started inside a span carries the local property
  ``dedup_bench.tag`` = ``<job>:<span>``, which the event log records on
  each stage it submits, so task metrics fold per job and stage.

Spans live in memory and are read out after the run.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

TAG = "dedup_bench.tag"


@dataclass
class Span:
    job: int
    name: str
    start: float
    end: float


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.job = -1
        self.output_paths: set[str] = set()
        self._stack: list[str] = []
        self._restore: list = []

    @contextmanager
    def span(self, name: str):
        prior = self.sc.getLocalProperty(TAG)
        self._stack.append(name)
        self.sc.setLocalProperty(TAG, f"{self.job}:{name}")
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(
                Span(self.job, name, start, time.perf_counter())
            )
            self._stack.pop()
            self.sc.setLocalProperty(TAG, prior)

    def _patch(self, owner, attr: str, wrapper) -> None:
        original = getattr(owner, attr)
        self._restore.append((owner, attr, original))
        setattr(owner, attr, wrapper(original))

    def _wrap_in_span(self, owner, attr: str, span_name) -> None:
        """Route ``owner.attr`` through a span named
        ``span_name(innermost open span, call args)``; no span when that
        returns None."""
        tracer = self

        def wrapper(original):
            def call(*args, **kwargs):
                top = tracer._stack[-1] if tracer._stack else None
                name = span_name(top, args)
                if name is None:
                    return original(*args, **kwargs)
                with tracer.span(name):
                    return original(*args, **kwargs)

            return call

        self._patch(owner, attr, wrapper)

    def install(self) -> None:
        from pyspark.sql import DataFrameReader, DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        from arhivum_spark.sources.checkpoints import StageStore

        tracer = self
        stages: set[str] = set()

        def stage_wrapper(original):
            def read_or_compute(store, stage, compute, *args, **kwargs):
                def traced_compute():
                    with tracer.span(f"{stage}.compute"):
                        return compute()

                stages.add(stage)
                with tracer.span(stage):
                    return original(store, stage, traced_compute, *args, **kwargs)

            return read_or_compute

        def in_store(suffix: str):
            # the stage span is innermost only in StageStore's own body
            return lambda top, args: f"{top}{suffix}" if top in stages else None

        def parquet_write(top, args):
            if len(args) > 1 and args[1] in tracer.output_paths:
                return "output.write"
            return in_store(".write")(top, args)

        def driver_read(top, args):
            # outside every stage: the job's outermost span is innermost
            return "driver.read" if len(tracer._stack) == 1 else None

        self._patch(StageStore, "read_or_compute", stage_wrapper)
        self._wrap_in_span(DataFrame, "count", in_store(".materialize"))
        self._wrap_in_span(DataFrameWriter, "parquet", parquet_write)
        self._wrap_in_span(DataFrame, "collect", driver_read)
        self._wrap_in_span(DataFrameReader, "parquet", driver_read)
        self._wrap_in_span(StageStore, "read", driver_read)

    def wrap_function(self, module, name: str, on_result) -> None:
        """Route ``module.name`` through ``on_result(result)`` for the
        tracer's lifetime (used to keep an operator's output frame)."""

        def wrapper(original):
            def call(*args, **kwargs):
                result = original(*args, **kwargs)
                on_result(result)
                return result

            return call

        self._patch(module, name, wrapper)

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    def job_spans(self, job: int) -> dict[str, float]:
        """Seconds per span name for one job."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.job == job:
                out[s.name] += s.end - s.start
        return dict(out)


_MB = 2**20


def _events(path: str):
    with open(path) as f:
        for line in f:
            yield json.loads(line)


def fold_event_log(path: str) -> dict[str, dict[str, float]]:
    """Task metrics per ``dedup_bench.tag`` value from an uncompressed
    Spark event log: tasks, executor run/CPU/GC seconds, peak execution
    memory (max over tasks), shuffle read/write and spill MB, and the
    number of Spark jobs started under the tag."""
    stage_tag: dict[tuple[int, int], str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in _events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            tag = (ev.get("Properties") or {}).get(TAG)
            if tag:
                out[tag]["spark_jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            tag = (ev.get("Properties") or {}).get(TAG)
            info = ev["Stage Info"]
            if tag:
                stage_tag[(info["Stage ID"], info["Stage Attempt ID"])] = tag
        elif kind == "SparkListenerTaskEnd":
            tag = stage_tag.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            m = ev.get("Task Metrics")
            if tag is None or not m:
                continue
            acc = out[tag]
            acc["tasks"] += 1
            acc["executor_run_s"] += m["Executor Run Time"] / 1e3
            acc["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
            acc["gc_s"] += m["JVM GC Time"] / 1e3
            acc["peak_exec_mem_mb"] = max(
                acc["peak_exec_mem_mb"], m["Peak Execution Memory"] / _MB
            )
            sr = m["Shuffle Read Metrics"]
            acc["shuffle_read_mb"] += (
                sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            ) / _MB
            acc["shuffle_write_mb"] += (
                m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / _MB
            )
            acc["spill_mb"] += (
                m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            ) / _MB
    return {tag: dict(v) for tag, v in out.items()}


def event_log_file(log_dir: str) -> str:
    """The single finished event log a stopped session left in
    ``log_dir``."""
    logs = [
        f for f in os.listdir(log_dir) if not f.endswith(".inprogress")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {logs}")
    return os.path.join(log_dir, logs[0])
