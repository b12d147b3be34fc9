"""Spans and Spark-side counters for the traced run.

The tracer is fed from outside the program: the workload code opens a
span around each op, each public call and each action; after every op the
tracer reads the jobs that op ran from Spark's status store and the
streaming progress the op produced from a ``StreamingQueryListener``.
Spans stay in memory and are written out when the run ends.

With tracing off every method is a cheap no-op except the op timer, so the
untraced run measures the program, not the tracer.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


class _ProgressListener(StreamingQueryListener):
    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append({
            "ts": p.timestamp,
            "batch": p.batchId,
            "rows": p.numInputRows,
            "durationMs": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _opt_epoch_s(opt) -> float | None:
    """Scala Option[java.util.Date] -> epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def union_ms(intervals: list[tuple], lo: float, hi: float) -> float:
    """Length in ms of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a < end:
            a = end
        if b > a:
            total += b - a
            end = b
    return total * 1000.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.stages: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[dict] = []
        self._op: dict | None = None
        self._next_id = 0
        # a shuffle stage keeps its id when a later job reuses its output
        # (listed there as skipped); count its metrics once
        self._seen_stages: set[int] = set()
        self.spark = spark
        if enabled:
            sc = spark.sparkContext
            self._store = sc._jsc.sc().statusStore()
            self._bus = sc._jsc.sc().listenerBus()
            self._tracker = sc.statusTracker()
            self._listener = _ProgressListener()
            spark.streams.addListener(self._listener)
            self._last_job = max(self._tracker.getJobIdsForGroup(None), default=-1)

    def close(self):
        if self.enabled:
            self.spark.streams.removeListener(self._listener)

    def _new_span(self, name: str, layer: str, start: float) -> dict:
        self._next_id += 1
        parent = self._stack[-1]["id"] if self._stack else None
        return {"id": self._next_id, "op": self._op["op_id"] if self._op else None,
                "name": name, "layer": layer, "start": start, "end": None,
                "parent": parent}

    @contextmanager
    def op(self, kind: str, op_id: int):
        """One closed-loop op. Yields a dict whose ``wall_s`` is set on exit;
        the layer record is attached to ``ops`` when tracing is on."""
        rec = {"op_id": op_id, "kind": kind}
        if self.enabled:
            self._op = rec
            span = self._new_span(kind, "op", time.time())
            self._stack.append(span)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            if self.enabled:
                span["end"] = time.time()
                self._stack.pop()
                self.spans.append(span)
                t1 = time.perf_counter()
                self._collect(rec, span)
                self.overhead_s += time.perf_counter() - t1
                self.ops.append(rec)
                self._op = None

    @contextmanager
    def span(self, name: str, layer: str):
        """A public-function call (layer ``call``) or an action (``action``)."""
        if not self.enabled:
            yield
            return
        span = self._new_span(name, layer, time.time())
        self._stack.append(span)
        try:
            yield
        finally:
            span["end"] = time.time()
            self._stack.pop()
            self.spans.append(span)

    def _collect(self, rec: dict, op_span: dict) -> None:
        """Read the jobs and streaming progress the op produced."""
        self._bus.waitUntilEmpty(30_000)
        new = sorted(j for j in self._tracker.getJobIdsForGroup(None)
                     if j > self._last_job)
        if new:
            self._last_job = new[-1]
        own = [s for s in self.spans if s["op"] == rec["op_id"]]
        jobs, stages = [], []
        for jid in new:
            jd = self._store.job(jid)
            start = _opt_epoch_s(jd.submissionTime())
            end = _opt_epoch_s(jd.completionTime()) or start
            if start is None:
                continue
            jobs.append((start, end))
            parent = _innermost(own, start) or op_span
            self._next_id += 1
            self.spans.append({"id": self._next_id, "op": rec["op_id"],
                               "name": f"job {jid}", "layer": "spark_job",
                               "start": start, "end": end,
                               "parent": parent["id"]})
            for sid in map(int, _seq(jd.stageIds())):
                if sid not in self._seen_stages:
                    self._seen_stages.add(sid)
                    stages.append(self._stage(sid))
        stages = [s for s in stages if s is not None]
        self.stages.extend(stages)
        lo, hi = op_span["start"], op_span["end"]
        rec["jobs"] = len(jobs)
        rec["job_spans"] = jobs
        rec["job_ms"] = union_ms(jobs, lo, hi)
        rec["driver_gap_ms"] = (hi - lo) * 1000.0 - rec["job_ms"]
        for key in ("run_ms", "cpu_ms", "gc_ms", "input_bytes", "output_bytes",
                    "shuffle_read_bytes", "shuffle_write_bytes", "tasks"):
            rec[key] = sum(s[key] for s in stages)
        rec["stages"] = sum(1 for s in stages if s["tasks"] > 0)
        progress = self._listener.progress
        self._listener.progress = []
        rec["progress"] = progress
        for p in progress:
            self._next_id += 1
            start = _iso_epoch(p["ts"])
            dur = p["durationMs"].get("triggerExecution", 0) / 1000.0
            parent = _innermost(own, start) or op_span
            self.spans.append({"id": self._next_id, "op": rec["op_id"],
                               "name": f"batch {p['batch']}",
                               "layer": "stream_batch", "start": start,
                               "end": start + dur, "parent": parent["id"]})

    def _stage(self, sid: int) -> dict | None:
        try:
            sd = self._store.lastStageAttempt(sid)
        except Py4JJavaError:  # stage evicted from the store or never submitted
            return None
        n = sd.numCompleteTasks()
        rec = {"stage": sid, "tasks": n,
               "run_ms": sd.executorRunTime(),
               "cpu_ms": sd.executorCpuTime() / 1e6,
               "gc_ms": sd.jvmGcTime(),
               "input_bytes": sd.inputBytes(), "output_bytes": sd.outputBytes(),
               "shuffle_read_bytes": sd.shuffleReadBytes(),
               "shuffle_write_bytes": sd.shuffleWriteBytes(),
               "skew": None}
        if n >= 2:
            durs = sorted(
                t.duration().get() for t in _seq(
                    self._store.taskList(sid, sd.attemptId(), 100_000))
                if t.duration().isDefined())
            if durs and durs[len(durs) // 2] > 0:
                rec["skew"] = durs[-1] / durs[len(durs) // 2]
        return rec

    def self_times(self) -> dict[str, float]:
        """Per layer: summed span duration minus the part of it covered by
        the span's direct children, in ms."""
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) * 1000.0
            kids = children.get(s["id"], [])
            out[s["layer"]] = out.get(s["layer"], 0.0) + own - union_ms(
                kids, s["start"], s["end"])
        return out

    def dump(self, path: str, stamp: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"stamp": stamp, "spans": self.spans,
                       "ops": self.ops, "stages": self.stages}, fh)


def _innermost(spans: list[dict], t: float) -> dict | None:
    """The latest-starting call/action span open at time t."""
    best = None
    for s in spans:
        if s["layer"] in ("call", "action") and s["start"] <= t <= (s["end"] or t):
            if best is None or s["start"] >= best["start"]:
                best = s
    return best


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
