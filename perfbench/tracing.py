"""Traced mode: spans around the engine's public functions, Spark's status
store for the execution layer, and /proc for process-level counters.

Everything here observes from outside the engine. Function wrappers are set
as module attributes *before* ``engine.load_all()`` imports the operator
modules, because those bind ``from ...catalog import load`` at import time.
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager
from typing import Callable, Optional

from py4j.protocol import Py4JJavaError

from stats import Span, driver_gap, innermost_by_watermark, self_times, union_length

# Span names, one per layer; self time is reported per name.
LAYERS = (
    "op",
    "operators.build",
    "spark.exec",
    "driver.run_job",
    "catalog.load",
    "catalog.memo_index",
    "catalog.memo_index.build",
    "catalog.local_frame",
    "sources.sinks.write",
    "spark.job",
)


class Tracer:
    """Collects spans for the operations of one pass and folds them, with
    Spark's status store, into per-layer totals."""

    def __init__(self, spark):
        self.enabled = False
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._bus = self._sc.listenerBus()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        self._seen_stages: set[int] = set()
        self._seen_workers: set[int] = set()
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.stream_events: list[tuple[float, float]] = []
        self.evicted_records = 0

    # -- spans ---------------------------------------------------------
    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=self._next_id,
            name=name,
            start=time.time(),
            parent=parent.id if parent else None,
            op=parent.op if parent else self._next_id,
            job_lo=self.next_job_id(),
        )
        self._next_id += 1
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.job_hi = self.next_job_id()
            s.end = time.time()

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap the engine's public functions in their modules. Must run
        before ``engine.load_all()``."""
        from dock_financial_data_pipelines_spark import catalog, driver
        from dock_financial_data_pipelines_spark.sources import sinks

        catalog.load = self.wrap("catalog.load", catalog.load)
        catalog.local_frame = self.wrap("catalog.local_frame", catalog.local_frame)
        memo = catalog.memo_index

        def memo_index(spark, tag, build):
            with self.span("catalog.memo_index"):
                return memo(spark, tag, self.wrap("catalog.memo_index.build", build))

        catalog.memo_index = functools.wraps(memo)(memo_index)
        for name in dir(sinks):
            fn = getattr(sinks, name)
            if name.startswith("write_") and callable(fn):
                setattr(sinks, name, self.wrap("sources.sinks.write", fn))
        driver.run_job = self.wrap("driver.run_job", driver.run_job)
        for job, fn in list(driver.JOBS.items()):
            driver.JOBS[job] = self.wrap("operators.build", fn)

    # -- streaming listener ------------------------------------------------
    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                ms = event.progress.durationMs.get("triggerExecution", 0)
                tracer.stream_events.append((time.time(), ms / 1000.0))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    # -- process counters ------------------------------------------------
    def _pids(self) -> list[int]:
        return [os.getpid(), self.jvm_pid]

    def io_bytes(self) -> tuple[int, int]:
        """(rchar, wchar) summed over the Python driver and the JVM."""
        r = w = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/io") as fh:
                    for line in fh:
                        key, _, val = line.partition(":")
                        if key == "rchar":
                            r += int(val)
                        elif key == "wchar":
                            w += int(val)
            except OSError:
                pass
        return r, w

    def new_python_workers(self) -> int:
        """Python processes under the JVM not seen before."""
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        new = 0
        todo = list(children.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            if pid in self._seen_workers:
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read()
            except OSError:
                continue
            if b"python" in cmd:
                self._seen_workers.add(pid)
                new += 1
        return new

    # -- status store ------------------------------------------------------
    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far, so
        the status store holds the jobs and stages of the last operation."""
        self._bus.waitUntilEmpty()

    def job_spans(self, lo: int, hi: int, op_spans: list[Span]) -> tuple[list[Span], dict]:
        """Spans for Spark jobs ``lo..hi-1`` (read right after the operation,
        before the store's retention evicts them) and their stage totals."""
        totals = dict.fromkeys(
            (
                "executor_run_s", "executor_cpu_s", "jvm_gc_s",
                "task_deserialize_s", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "input_bytes", "tasks", "stages", "failed_tasks",
            ),
            0.0,
        )
        spans = []
        for jid in range(lo, hi):
            try:
                jd = self._store.job(jid)
            except Py4JJavaError:  # NoSuchElementException: evicted already
                self.evicted_records += 1
                continue
            sub = jd.submissionTime()
            done = jd.completionTime()
            if not sub.isDefined():
                continue
            start = sub.get().getTime() / 1000.0
            end = done.get().getTime() / 1000.0 if done.isDefined() else start
            parent = innermost_by_watermark(op_spans, jid)
            s = Span(
                id=self._next_id, name="spark.job", start=start, end=end,
                parent=parent.id if parent else None,
                op=parent.op if parent else None, job_lo=jid, job_hi=jid + 1,
            )
            self._next_id += 1
            spans.append(s)
            sids = jd.stageIds()
            for i in range(sids.length()):
                sid = int(sids.apply(i))
                if sid in self._seen_stages:
                    continue
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted already
                    self.evicted_records += 1
                    continue
                if sd.status().toString() not in ("COMPLETE", "FAILED"):
                    continue  # skipped: its work ran (and was counted) earlier
                self._seen_stages.add(sid)
                totals["stages"] += 1
                totals["tasks"] += sd.numTasks()
                totals["failed_tasks"] += sd.numFailedTasks()
                totals["executor_run_s"] += sd.executorRunTime() / 1e3
                totals["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                totals["jvm_gc_s"] += sd.jvmGcTime() / 1e3
                totals["task_deserialize_s"] += sd.executorDeserializeTime() / 1e3
                totals["shuffle_read_bytes"] += sd.shuffleReadBytes()
                totals["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                totals["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                totals["input_bytes"] += sd.inputBytes()
        return spans, totals


# Per-pass layer metrics: (name, unit, better). Reported for the cold pass
# and as the median over traced warm passes.
_PASS_SPECS = (
    ("operators.build_s", "s", "lower"),
    ("operators.build_jobs", "count", "lower"),
    ("spark.exec_s", "s", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.jvm_gc_s", "s", "lower"),
    ("spark.task_deserialize_s", "s", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.input_bytes", "bytes", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.slot_util", "ratio", "higher"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.job_busy_s", "s", "lower"),
    ("spark.driver_gap_s", "s", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("catalog.load_calls", "count", "lower"),
    ("catalog.load_s", "s", "lower"),
    ("catalog.memo_index_calls", "count", "lower"),
    ("catalog.memo_index_builds", "count", "lower"),
    ("catalog.memo_index_hit_ratio", "ratio", "higher"),
    ("catalog.memo_index_build_s", "s", "lower"),
    ("catalog.local_frame_calls", "count", "lower"),
    ("pyworker.spawned", "count", "lower"),
    ("sources.sinks.write_calls", "count", "lower"),
    ("sources.sinks.write_s", "s", "lower"),
    ("driver.run_job_s", "s", "lower"),
    ("driver.attempts_per_run", "count", "lower"),
    ("driver.rows_published", "count", "higher"),
    ("proc.read_bytes", "bytes", "lower"),
    ("proc.write_bytes", "bytes", "lower"),
    ("proc.write_per_output_byte", "ratio", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.batch_s", "s", "lower"),
) + tuple((f"self.{layer}_s", "s", "lower") for layer in LAYERS)
PASS_METRICS = tuple(name for name, _, _ in _PASS_SPECS)


def per_layer_specs() -> list[tuple[str, str, str]]:
    """Every per-layer metric a traced run reports, as (name, unit, better)."""
    specs = [
        ("session.get_spark_s", "s", "lower"),
        ("registry.load_all_s", "s", "lower"),
        ("setup.warmup_s", "s", "lower"),
    ]
    for prefix in ("cold", "warm"):
        specs += [(f"{prefix}.{n}", u, b) for n, u, b in _PASS_SPECS]
    specs += [
        ("failed_op_ratio", "ratio", "lower"),
        ("trace.overhead_warm_pass_s", "s", "lower"),
        ("trace.evicted_records", "count", "lower"),
        ("host.steal_share", "ratio", "lower"),
        ("setup.wall_s", "s", "lower"),
        ("cold.pass_wall_s", "s", "lower"),
        ("warm.pass_wall_s", "s", "lower"),
        ("peak_rss_mb", "MB", "lower"),
    ]
    return specs


class PassTrace:
    """Per-layer totals of one traced pass."""

    def __init__(self, cores: int):
        self.cores = cores
        self.m: dict[str, float] = dict.fromkeys(PASS_METRICS, 0.0)

    def add(self, key: str, value: float) -> None:
        self.m[key] += value

    def fold_op(self, root: Span, op_spans: list[Span], jobs: list[Span],
                totals: dict, io: tuple[int, int], workers: int,
                stream: list[tuple[float, float]]) -> None:
        spans = op_spans + jobs
        parent = {s.id: s.parent for s in spans}
        by_name: dict[str, list[Span]] = {}
        for s in spans:
            by_name.setdefault(s.name, []).append(s)
        selfs = self_times(spans)
        for s in spans:
            self.add(f"self.{s.name}_s", selfs[s.id])
        builds = {s.id for s in by_name.get("operators.build", [])}

        def under_build(s: Span) -> bool:
            p = s.parent
            while p is not None:
                if p in builds:
                    return True
                p = parent.get(p)
            return False

        def total(name: str) -> float:
            return sum(s.duration for s in by_name.get(name, []))

        def count(name: str) -> int:
            return len(by_name.get(name, []))

        intervals = [(j.start, j.end) for j in jobs]
        busy = union_length(intervals)
        self.add("operators.build_s", total("operators.build"))
        self.add("operators.build_jobs", sum(1 for j in jobs if under_build(j)))
        self.add("spark.exec_s", total("spark.exec"))
        self.add("spark.jobs", len(jobs))
        self.add("spark.job_busy_s", busy)
        self.add("spark.driver_gap_s", driver_gap(root.duration, intervals))
        for k, v in totals.items():
            self.add(f"spark.{k}", v)
        self.add("catalog.load_calls", count("catalog.load"))
        self.add("catalog.load_s", total("catalog.load"))
        self.add("catalog.local_frame_calls", count("catalog.local_frame"))
        self.add("catalog.memo_index_calls", count("catalog.memo_index"))
        self.add("catalog.memo_index_builds", count("catalog.memo_index.build"))
        self.add("catalog.memo_index_build_s", total("catalog.memo_index.build"))
        self.add("sources.sinks.write_calls", count("sources.sinks.write"))
        self.add("sources.sinks.write_s", total("sources.sinks.write"))
        self.add("driver.run_job_s", total("driver.run_job"))
        self.add("pyworker.spawned", workers)
        self.add("proc.read_bytes", io[0])
        self.add("proc.write_bytes", io[1])
        self.add("streaming.batches", len(stream))
        self.add("streaming.batch_s", sum(d for _, d in stream))

    def metrics(self, runs: list, published_bytes: int) -> dict[str, float]:
        """Totals of the pass, with its ratios computed from them."""
        m = dict(self.m)
        busy = m["spark.job_busy_s"]
        m["spark.slot_util"] = m["spark.executor_run_s"] / (self.cores * busy) if busy else 0.0
        calls = m["catalog.memo_index_calls"]
        m["catalog.memo_index_hit_ratio"] = (
            (calls - m["catalog.memo_index_builds"]) / calls if calls else 0.0
        )
        m["driver.attempts_per_run"] = sum(r.attempts for r in runs) / len(runs) if runs else 0.0
        m["driver.rows_published"] = float(sum(r.rows for r in runs))
        m["proc.write_per_output_byte"] = (
            m["proc.write_bytes"] / published_bytes if published_bytes else 0.0
        )
        return m
