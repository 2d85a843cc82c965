"""Traced mode: spans around calls into the engine's modules, taken from
the benchmark's own process, plus the two Spark built-in views of a batch.

* Spans: the module attributes the engine actually calls are replaced by
  timing wrappers for the duration of the traced pass (the pipeline imports
  ``lww_collapse`` by name, so the name in ``streaming.pipeline`` is the one
  patched). Spans are kept in memory and written out when the run ends.
* ``StreamingQueryListener``: the ``durationMs`` breakdown of every trigger
  (triggerExecution, addBatch, queryPlanning, walCommit, getBatch, ...).
* Event log: task metrics of every Spark job, assigned to the micro-batch
  whose trigger-to-commit window contains the job.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

MERGE_PHASES = ("stats_job", "write_job", "obs_get", "manifest")


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent, batch);
    the parent is the innermost open span on the same thread, and a span
    inherits the micro-batch id of its parent."""

    def __init__(self):
        self.spans: list[dict] = []
        self.merges: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str, batch_id=None) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else None
        span = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": parent["id"] if parent else None,
            "batch_id": batch_id if batch_id is not None else (
                parent["batch_id"] if parent else None
            ),
        }
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        stack.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack().pop()

    def wrap(self, name: str, fn, batch_arg: int | None = None):
        """Return ``fn`` wrapped in a span; ``batch_arg`` is the positional
        index of a micro-batch id argument, if the call carries one."""

        def traced(*args, **kwargs):
            bid = args[batch_arg] if batch_arg is not None else None
            span = self._open(name, bid)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(span)

        traced.__wrapped__ = fn
        return traced

    def wrap_merge(self, fn):
        """``LakeTable.merge`` wrapper: the span, its four phases as child
        spans (from ``MergeResult.phase_timings``), and per-merge counts."""

        def traced(table, *args, **kwargs):
            span = self._open("lake.merge")
            try:
                res = fn(table, *args, **kwargs)
            finally:
                self._close(span)
            nested = [s for s in self.spans if s["parent"] == span["id"]]
            t = span["start"]
            for phase, dt in (res.phase_timings or {}).items():
                child = {
                    "name": f"lake.merge.{phase}",
                    "start": t,
                    "end": t + dt,
                    "parent": span["id"],
                    "batch_id": span["batch_id"],
                }
                t += dt
                with self._lock:
                    child["id"] = len(self.spans)
                    self.spans.append(child)
                # calls made inside a phase (the COW target read) nest under it
                for s in nested:
                    if child["start"] <= s["start"] < child["end"]:
                        s["parent"] = child["id"]
            out_dir = os.path.join(table.path, "data", f"v{res.version}")
            n_files = n_bytes = 0
            if not res.noop and os.path.isdir(out_dir):
                for dirpath, _d, files in os.walk(out_dir):
                    for f in files:
                        if f.endswith(".parquet"):
                            n_files += 1
                            n_bytes += os.path.getsize(os.path.join(dirpath, f))
            self.merges.append(
                {
                    "batch_id": span["batch_id"],
                    "mode": res.mode,
                    "noop": res.noop,
                    "rows_source": res.rows_source,
                    "rows_lww_skipped": res.rows_lww_skipped,
                    "buckets_touched": res.buckets_touched,
                    "files_written": n_files,
                    "bytes_written": n_bytes,
                }
            )
            return res

        traced.__wrapped__ = fn
        return traced

    def self_time(self, span: dict) -> float:
        kids = sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["parent"] == span["id"] and s["end"] is not None
        )
        return (span["end"] - span["start"]) - kids

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "merges": self.merges}, f)


@contextmanager
def patched(tracer: Tracer):
    """Install the span wrappers on the engine's modules; restore on exit."""
    from datacollector_spark.lake import table as lake_table
    from datacollector_spark.streaming import pipeline as streaming_pipeline

    LakeTable = lake_table.LakeTable
    Pipeline = streaming_pipeline.CdcIngestPipeline
    patches = [
        (streaming_pipeline, "lww_collapse",
         tracer.wrap("operators.lww_collapse", streaming_pipeline.lww_collapse)),
        (LakeTable, "merge", tracer.wrap_merge(LakeTable.merge)),
        (LakeTable, "read", tracer.wrap("lake.read", LakeTable.read)),
        (LakeTable, "expire_snapshots",
         tracer.wrap("lake.expire_snapshots", LakeTable.expire_snapshots)),
        (LakeTable, "compact_deltas",
         tracer.wrap("lake.compact_deltas", LakeTable.compact_deltas)),
        (Pipeline, "apply_batch",
         tracer.wrap("streaming.apply_batch", Pipeline.apply_batch, batch_arg=2)),
        (Pipeline, "run_available_now",
         tracer.wrap("streaming.run_available_now", Pipeline.run_available_now)),
        (Pipeline, "run_continuous",
         tracer.wrap("streaming.run_continuous", Pipeline.run_continuous)),
    ]
    saved = [(obj, attr, obj.__dict__[attr]) for obj, attr, _ in patches]
    try:
        for obj, attr, new in patches:
            setattr(obj, attr, new)
        yield tracer
    finally:
        for obj, attr, old in saved:
            setattr(obj, attr, old)


def progress_listener(spark, sink: list):
    """Register a Python StreamingQueryListener that appends every progress
    update to ``sink``; returns it (pass to ``removeListener``)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener


# ------------------------------------------------------------ event log
def _event_lines(path: str):
    """Lines of an event log: one file, or a rolling log directory
    (``eventlog_v2_<app>/events_<n>_<app>``) read in order."""
    if not os.path.isdir(path):
        with open(path) as f:
            yield from f
        return
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    for name in sorted(parts, key=lambda n: int(n.split("_")[1])):
        with open(os.path.join(path, name)) as f:
            yield from f


def read_event_log(path: str) -> dict:
    """Jobs and task metrics from an uncompressed Spark event log."""
    jobs, tasks = [], []
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs.append({"submitted_ms": ev["Submission Time"], "job": ev["Job ID"]})
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append(
                {
                    "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                    "launch_ms": info["Launch Time"],
                    "finish_ms": info["Finish Time"],
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                }
            )
    return {"jobs": jobs, "tasks": tasks}


def spark_batch_metrics(log: dict, windows: list[tuple[float, float]], cores: int) -> list[dict]:
    """Per micro-batch engine metrics. ``windows`` are (trigger, commit)
    wall-clock seconds; a job belongs to the batch whose window holds its
    submission, a task to the batch whose window holds its launch."""
    out = []
    for lo, hi in windows:
        lo_ms, hi_ms = lo * 1000.0, hi * 1000.0
        tasks = [t for t in log["tasks"] if lo_ms <= t["launch_ms"] <= hi_ms]
        by_stage: dict = {}
        for t in tasks:
            by_stage.setdefault(t["stage"], []).append(
                max(t["finish_ms"] - t["launch_ms"], 0)
            )
        skew = 0.0
        if by_stage:
            widest = max(by_stage.values(), key=len)
            med = statistics.median(widest)
            skew = max(widest) / med if med > 0 else 1.0
        busy_ms = sum(max(t["finish_ms"] - t["launch_ms"], 0) for t in tasks)
        out.append(
            {
                "jobs": sum(1 for j in log["jobs"] if lo_ms <= j["submitted_ms"] <= hi_ms),
                "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
                "shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
                "spill_bytes": sum(t["spill"] for t in tasks),
                "task_skew": skew,
                "core_busy_frac": busy_ms / max((hi_ms - lo_ms) * cores, 1e-9),
                "gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0,
                "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            }
        )
    return out
