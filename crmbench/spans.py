"""Spans around the engine's public functions, read from outside the engine.

A :class:`Tracer` wraps functions at the attribute their callers resolve,
opens one Spark job group per span, and on span exit reads the group's jobs
from the status tracker and their stages from the app status store
(``statusStore().lastStageAttempt``), which works with the UI disabled.
Streaming work runs on the stream's own thread under a job group named after
the query's run id, so a :class:`StreamingQueryListener` records each
trigger's ``durationMs`` and the run ids whose jobs are counted afterwards.

Spans (name, start, end, parent, run id) stay in memory; the time spent
reading Spark's bookkeeping is recorded as ``trace.bookkeeping`` child spans
so it never counts as a layer's self time.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

from stats import self_times

GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
STAGE_FIELDS = ("tasks", "executor_run_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "failed_tasks")


class _Progress(StreamingQueryListener):
    def __init__(self, sink: "Tracer"):
        self.sink = sink

    def onQueryStarted(self, event):
        with self.sink._lock:
            self.sink.stream_runs.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        with self.sink._lock:
            self.sink.triggers.append({"run": str(p.runId), **{k: float(v) for k, v in dict(p.durationMs).items()}})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.triggers: list[dict] = []
        self.stream_runs: list[str] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._listener = _Progress(self)
        spark.streams.addListener(self._listener)

    def reset(self) -> None:
        """Forget what was recorded so far (untimed set-up work)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        with self._lock:
            self.spans.clear()
            self.triggers.clear()
            self.stream_runs.clear()

    # ----------------------------------------------------------------- spans

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        group = f"{self.run_id}-{sid}"
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
               "run": self.run_id, "group": group, "thread": threading.get_ident(),
               "start": time.perf_counter()}
        stack.append(rec)
        # a foreachBatch callback runs on the stream's own thread, whose job
        # group the stream owns: put back whatever was there, not "no group"
        saved = [(k, self.sc.getLocalProperty(k)) for k in GROUP_PROPS]
        self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)
            self._read_stages(rec)
            for k, v in saved:
                self.sc.setLocalProperty(k, v)

    def _read_stages(self, rec: dict) -> None:
        """Jobs, stages and task metrics of ``rec``'s own job group."""
        t0 = time.perf_counter()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(rec["group"])
        totals = dict.fromkeys(STAGE_FIELDS, 0)
        stages = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for st in (info.stageIds if info else []):
                try:
                    sd = store.lastStageAttempt(st)
                except Exception:  # evicted from the status store
                    continue
                if str(sd.status()) != "COMPLETE":
                    continue
                stages += 1
                totals["tasks"] += sd.numCompleteTasks()
                totals["failed_tasks"] += sd.numFailedTasks()
                totals["executor_run_ms"] += sd.executorRunTime()
                totals["shuffle_read_bytes"] += sd.shuffleReadBytes()
                totals["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                totals["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        rec.update(totals, jobs=len(jobs), stages=stages)
        t1 = time.perf_counter()
        with self._lock:
            self.spans.append({"id": next(self._ids), "name": "trace.bookkeeping",
                               "parent": rec["parent"], "run": self.run_id,
                               "start": t0, "end": t1})

    # -------------------------------------------------------------- patching

    def wrap(self, owner, attr: str, span_name: str, on_call=None) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if on_call is not None:
                on_call(*args, **kwargs)
            with tracer.span(span_name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def close(self) -> None:
        """Restore the wrapped functions once every queued event is delivered."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()
        self.spark.streams.removeListener(self._listener)

    # -------------------------------------------------------------- summary

    def stream_jobs(self) -> int:
        """Jobs of the streams' own groups plus those of spans opened on
        another thread than the main one (``foreachBatch`` callbacks)."""
        tracker = self.sc.statusTracker()
        main = threading.main_thread().ident
        jobs = sum(len(tracker.getJobIdsForGroup(r)) for r in self.stream_runs)
        return jobs + sum(s.get("jobs", 0) for s in self.spans if s.get("thread", main) != main)

    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, inclusive seconds, self seconds and the
        Spark counters of the span's own job group."""
        selfs = self_times(self.spans)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            t = out.setdefault(s["name"], {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0, "stages": 0,
                                           **dict.fromkeys(STAGE_FIELDS, 0)})
            t["calls"] += 1
            t["s"] += s["end"] - s["start"]
            t["self_s"] += selfs[s["id"]]
            for k in ("jobs", "stages", *STAGE_FIELDS):
                t[k] += s.get(k, 0)
        return out

    def inclusive(self, prefix: str) -> dict[str, float]:
        """Spark counters summed over every span under a ``prefix`` span."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        acc = {"jobs": 0, "stages": 0, **dict.fromkeys(STAGE_FIELDS, 0)}

        def walk(s):
            for k in acc:
                acc[k] += s.get(k, 0)
            for c in children.get(s["id"], []):
                walk(c)

        for s in self.spans:
            if s["name"] == prefix:
                walk(s)
        return acc

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "triggers": self.triggers}, f)
