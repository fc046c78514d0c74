"""In-memory span tracer and Spark counters, all from outside the engine.

A span is recorded around each call the benchmark makes into one of the
engine's layers: name, layer, start, end, parent span and a request id
shared by the spans of one query or one job chunk. Spans stay in memory
and are written out as JSON lines when the run ends; ``self_seconds``
derives each span's self time (its duration minus the part of it that
its children cover).

Spark counters come from the driver's status store, read after a span
ends so the read is not timed:

* ``counters="window"``: every job and stage submitted while the span was
  open (the DAG scheduler's job and stage id counters before and after).
  Exact for calls that run alone, which is every layer call of the
  analytics workload.
* ``group=<id>``: the call runs under ``sc.setJobGroup(<id>)`` and only
  that group's jobs count. Used where calls overlap (the API reader
  beside the streaming worker).

Streaming progress (``StreamingQueryProgress.durationMs``) arrives
through a ``StreamingQueryListener``; each trigger becomes a span whose
children are its phases.

A disabled tracer records nothing and reads no counter, so the
end-to-end run pays nothing for it.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from datetime import datetime, timezone

#: the durationMs phases a micro-batch trigger is made of, in order
TRIGGER_PHASES = ("latestOffset", "getBatch", "walCommit", "queryPlanning",
                  "addBatch", "commitOffsets")


class StageTotals:
    """Sums over the stages that ran: jobs, stages, tasks, executor run
    and CPU time, shuffle bytes."""

    FIELDS = ("spark_jobs", "spark_stages", "spark_tasks", "executor_run_s",
              "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes")

    def __init__(self):
        for f in self.FIELDS:
            setattr(self, f, 0)

    def as_dict(self) -> dict:
        return {f: getattr(self, f) for f in self.FIELDS}


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self.phase = "setup"
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._listener = None

    # ---- spans ---------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str, rid: str | None = None,
             counters: str | None = None, group: str | None = None, **attrs):
        """Record one layer call. ``counters="window"`` or ``group``
        attaches the Spark jobs it ran (see the module doc)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "rid": rid if rid is not None else (parent["rid"] if parent else None),
            "phase": self.phase,
            **attrs,
        }
        mark = self._window_mark() if counters == "window" else None
        sc = self.spark.sparkContext if group else None
        if sc is not None:
            sc.setJobGroup(group, name)
        stack.append(sp)
        sp["start_ns"] = time.time_ns()
        try:
            yield sp
        finally:
            sp["end_ns"] = time.time_ns()
            stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            t0 = time.perf_counter()
            if mark is not None:
                sp.update(self._window_totals(mark).as_dict())
            elif group:
                sp.update(self.group_totals(group).as_dict())
            with self._lock:
                self.spans.append(sp)
                self.overhead_s += time.perf_counter() - t0

    def add_span(self, name: str, layer: str, start_ns: int, end_ns: int,
                 parent: int | None, rid=None, phase: str | None = None, **attrs) -> dict:
        sp = {"id": next(self._ids), "name": name, "layer": layer,
              "parent": parent, "rid": rid, "phase": phase or self.phase,
              "start_ns": start_ns, "end_ns": end_ns, **attrs}
        with self._lock:
            self.spans.append(sp)
        return sp

    def find(self, name: str, phase: str | None = "timed") -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and (phase is None or s["phase"] == phase)]

    def seconds(self, name: str, phase: str | None = "timed") -> list[float]:
        return [(s["end_ns"] - s["start_ns"]) / 1e9 for s in self.find(name, phase)]

    # ---- Spark counters ------------------------------------------------

    def _dag(self):
        return self.spark.sparkContext._jsc.sc().dagScheduler()

    def _window_mark(self) -> tuple[int, int]:
        t0 = time.perf_counter()
        dag = self._dag()
        mark = (int(dag.nextJobId()), int(dag.nextStageId()))
        self.overhead_s += time.perf_counter() - t0
        return mark

    def window_start(self) -> tuple[int, int]:
        """Open a counter window by hand (for spans that are not one
        ``with`` block, such as a whole streaming run)."""
        return self._window_mark() if self.enabled else (0, 0)

    def window_totals(self, mark: tuple[int, int]) -> StageTotals:
        if not self.enabled:
            return StageTotals()
        t0 = time.perf_counter()
        out = self._window_totals(mark)
        self.overhead_s += time.perf_counter() - t0
        return out

    def _window_totals(self, mark: tuple[int, int]) -> StageTotals:
        dag = self._dag()
        j1, s1 = int(dag.nextJobId()), int(dag.nextStageId())
        out = self._stage_totals(range(mark[1], s1))
        out.spark_jobs = j1 - mark[0]
        return out

    def group_totals(self, group: str) -> StageTotals:
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = self._stage_totals(sorted(stages))
        out.spark_jobs = len(jobs)
        return out

    def _stage_totals(self, stage_ids) -> StageTotals:
        """Per-stage metrics from the status store. Stages that never ran
        (skipped because their shuffle output was reused) add nothing;
        ``stageAttempt`` takes all six arguments over py4j because Scala
        defaults are not visible there."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        out = StageTotals()
        for sid in stage_ids:
            try:
                sd = store.stageAttempt(int(sid), 0, False, None, False, None)._1()
            except Exception:  # noqa: BLE001 — not in the store: never ran
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out.spark_stages += 1
            out.spark_tasks += int(sd.numCompleteTasks()) + int(sd.numFailedTasks())
            out.executor_run_s += int(sd.executorRunTime()) / 1e3
            out.executor_cpu_s += int(sd.executorCpuTime()) / 1e9
            out.shuffle_read_bytes += int(sd.shuffleReadBytes())
            out.shuffle_write_bytes += int(sd.shuffleWriteBytes())
        return out

    # ---- streaming progress ----------------------------------------------

    def listen_progress(self) -> None:
        """Attach a StreamingQueryListener that keeps every progress
        event (trace runs only)."""
        if not self.enabled or self._listener is not None:
            return
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                t0 = time.perf_counter()
                p = event.progress
                rec = {
                    "run_id": str(p.runId),
                    "batch_id": p.batchId,
                    "timestamp": p.timestamp,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "phase": tracer.phase,
                }
                with tracer._lock:
                    tracer.progress.append(rec)
                    tracer.overhead_s += time.perf_counter() - t0

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)

    def stop_listening(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def progress_spans(self, parent: dict, since: int = 0) -> list[dict]:
        """Turn the progress events received after index ``since`` into
        trigger spans under ``parent``, each with its phases as child
        spans laid end to end (durationMs gives lengths, not starts)."""
        out = []
        for rec in self.progress[since:]:
            d = rec["duration_ms"]
            total = d.get("triggerExecution")
            if total is None or rec["rows"] == 0:
                continue
            start = _iso_ns(rec["timestamp"])
            trig = self.add_span("trigger", "streaming.worker", start,
                                 start + total * 1_000_000, parent["id"],
                                 rid=parent.get("rid"), phase=rec["phase"],
                                 batch_id=rec["batch_id"], rows=rec["rows"])
            cur = start
            for ph in TRIGGER_PHASES:
                ms = d.get(ph)
                if ms:
                    self.add_span(ph, "streaming.worker", cur, cur + ms * 1_000_000,
                                  trig["id"], rid=parent.get("rid"), phase=rec["phase"])
                    cur += ms * 1_000_000
            out.append(rec)
        return out

    # ---- output ----------------------------------------------------------

    def self_seconds(self) -> dict[int, float]:
        """Span id → self time: duration minus the union of its
        children's intervals, clipped to the span."""
        kids: dict[int, list[tuple[int, int]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
        out = {}
        for s in self.spans:
            a, b = s["start_ns"], s["end_ns"]
            covered = 0
            cur = a
            for x, y in sorted(kids.get(s["id"], [])):
                x, y = max(x, cur), min(y, b)
                if y > x:
                    covered += y - x
                    cur = y
            out[s["id"]] = max(0, (b - a) - covered) / 1e9
        return out

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        selfs = self.self_seconds()
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start_ns"]):
                fh.write(json.dumps({**s, "self_s": round(selfs[s["id"]], 6)}) + "\n")


def _iso_ns(ts: str) -> int:
    dt = datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return int(dt.replace(tzinfo=timezone.utc).timestamp() * 1e9)
