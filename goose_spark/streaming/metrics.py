"""Metrics backend protocol — goose's ``Metrics`` protocol re-expressed.

Reference surface (``src/goose/metrics.clj:35-42``): a user-implementable
backend with ``enabled?`` / ``increment`` / ``timing`` / ``gauge``, plus
the canonical metric names (``metrics.clj:9-33``) and the middleware
feed that emits processed/succeeded/failed counts and execution timings
per job (``metrics.clj:59-86``). Goose ships StatsD as the specimen
backend (``src/goose/metrics/statsd.clj``).

Engine mapping:
* ``Metrics`` — the protocol base. Implement the three emit methods and
  pass your instance as ``Worker(metrics=...)``; the worker feeds it per
  micro-batch from foreachBatch, the same position in the execution path
  as goose's metrics middleware (``worker.clj:46-55``). ``None`` behaves
  as a disabled backend (metrics.clj:45-50 nil extension).
* ``MetricsSink`` — in-memory recorder (tests, local inspection).
* ``StatsDMetrics`` — the specimen network backend: plain StatsD UDP
  datagrams (``key:value|type|@rate|#tags``) over the stdlib socket, no
  client library needed; prefix/sample-rate/static-tags match goose's
  statsd.clj default-opts.
* queue-depth gauges → ``events.job_queue_depth_stream`` aggregation
* engine-level progress (rows/sec, batch duration, watermark lag) →
  Spark's own ``StreamingQuery.lastProgress`` / ``StreamingQueryListener``
  (emitted natively per trigger; no engine wrapper) for a micro-batch
  above ``SMALL_BATCH_ROWS``. A smaller batch is read with pyarrow and
  executed in the driver, so Spark never runs its batch frame and
  reports 0 input rows; the worker reports that batch's input rows and
  duration through ``record_micro_batch`` instead

The worker emits COUNTS per micro-batch, not one datagram per job: at
cluster scale a per-job UDP send from the driver would serialize the
hot path; the per-batch aggregate carries the same information.
"""

from __future__ import annotations

import random
import socket
from dataclasses import dataclass, field

#: terminal/failure statuses counted as jobs.failed (a 'deleted' outcome
#: row is a skip-dead-queue death — still a failure)
_FAILURE_STATUSES = ("retrying", "dead", "deleted")


class Metrics:
    """The backend protocol (src/goose/metrics.clj:35-42). Subclass and
    implement ``increment`` / ``timing`` / ``gauge``; override
    ``enabled`` to toggle at runtime. All keys below are goose's literal
    metric names (metrics.clj:9-33), so dashboards built against a goose
    deployment read identically against the engine."""

    # counters (metrics.clj:10-13)
    JOBS_PROCESSED = "jobs.processed"
    JOBS_SUCCESS = "jobs.succeeded"
    JOBS_FAILURE = "jobs.failed"
    JOBS_RECOVERED = "jobs.recovered"
    # timings (metrics.clj:19-25)
    EXECUTION_TIME = "job.execution_time"
    BATCH_COMPLETION_TIME = "batch.completion_time"
    EXECUTION_LATENCY = "execution.latency"
    SCHEDULE_LATENCY = "scheduled.latency"
    CRON_SCHEDULE_LATENCY = "cron_scheduled.latency"
    RETRY_LATENCY = "retry.latency"
    # engine-level progress of a micro-batch run in the driver (no
    # goose equivalent; Spark's own progress covers the larger ones)
    MICRO_BATCH_ROWS = "micro_batch.input_rows"
    MICRO_BATCH_TIME = "micro_batch.duration"
    # gauges (metrics.clj:27-33)
    TOTAL_ENQUEUED_SIZE = "total_enqueued_jobs.count"
    SCHEDULED_SIZE = "scheduled_jobs.count"
    CRON_SIZE = "cron_jobs.count"
    DEAD_SIZE = "dead_jobs.count"
    BATCHES_SIZE = "batches.count"

    @staticmethod
    def format_queue_count(queue: str) -> str:
        """Per-queue depth gauge key (metrics.clj:27-28)."""
        return f"enqueued_jobs.{queue}.count"

    @staticmethod
    def format_batch_status(status: str) -> str:
        """Batch terminal counter key (metrics.clj:15-18)."""
        return f"batch.{status}"

    def enabled(self) -> bool:
        return True

    def increment(self, key: str, n: int = 1, tags: dict | None = None) -> None:
        raise NotImplementedError

    def timing(self, key: str, ms: float, tags: dict | None = None) -> None:
        raise NotImplementedError

    def gauge(self, key: str, value: float, tags: dict | None = None) -> None:
        raise NotImplementedError

    #: latency-class → metric key (metrics.clj:22-25); the class of an
    #: outcome row derives from its fields: retried rows → retry,
    #: cron-born → cron_scheduled, run_at-parked → scheduled, plain →
    #: execution (goose tags each job the same way, job.clj latency)
    LATENCY_KEYS = {
        "execution": EXECUTION_LATENCY,
        "scheduled": SCHEDULE_LATENCY,
        "cron": CRON_SCHEDULE_LATENCY,
        "retry": RETRY_LATENCY,
    }

    def record_latency_classes(self, avg_ms_by_class: dict) -> None:
        """Per-class latency timings (record-metrics, metrics.clj:66-69
        — goose emits the job's wait latency before executing; the
        engine emits the micro-batch's per-class mean at commit).
        Non-positive latencies are skipped, same as goose's
        ``(when (pos? latency) …)`` guard (API-replayed jobs can carry
        negative waits)."""
        for cls, ms in avg_ms_by_class.items():
            key = self.LATENCY_KEYS.get(cls)
            if key is not None and ms is not None and ms > 0:
                self.timing(key, ms)

    def record_batch_terminal(self, status: str, completion_ms: float | None) -> None:
        """Batch terminal transition (metrics.clj:15-20): one counter on
        the derived status + the batch completion time."""
        self.increment(self.format_batch_status(status))
        if completion_ms is not None and completion_ms > 0:
            self.timing(self.BATCH_COMPLETION_TIME, completion_ms)

    def record_micro_batch(self, input_rows: int, wall_ms: float) -> None:
        """A micro-batch run in the driver: its input rows as a counter
        (rows/sec is its rate) and its wall time as one timing per
        batch — the figures ``lastProgress`` reads 0 for."""
        self.increment(self.MICRO_BATCH_ROWS, input_rows)
        self.timing(self.MICRO_BATCH_TIME, wall_ms)

    # -- worker feed (record-metrics parity, metrics.clj:59-86) ----------

    def record_outcomes(self, statuses: list[str], wall_ms: float) -> None:
        """Feed from a micro-batch's outcome rows."""
        counts: dict[str, int] = {}
        for s in statuses:
            counts[s] = counts.get(s, 0) + 1
        self.record_outcome_counts(counts, wall_ms)

    def record_outcome_counts(self, status_counts: dict[str, int], wall_ms: float) -> None:
        """Count-shaped feed (the distributed-commit path already has
        (status → n) aggregates; expanding them to a per-row list would
        be O(jobs) driver work for no information gain)."""
        n = sum(status_counts.values())
        if not n:
            return
        self.increment(self.JOBS_PROCESSED, n)
        self.increment(self.JOBS_SUCCESS, status_counts.get("success", 0))
        self.increment(
            self.JOBS_FAILURE,
            sum(status_counts.get(s, 0) for s in _FAILURE_STATUSES),
        )
        self.timing(self.EXECUTION_TIME, wall_ms / n)


def latency_classes_ms(pdf, now) -> dict:
    """Classify outcome rows into goose's latency classes and return
    the mean wait (ms) per class. Basis per class: retry → last retry
    stamp, cron/scheduled → the due instant (run_at), execution →
    enqueued_at — the same reference points goose's latency tuple
    carries (retry.clj/scheduler timestamps). Pure pandas, bounded by
    the micro-batch."""
    import numpy as np
    import pandas as pd

    if len(pdf) == 0:
        return {}
    retry = pdf["retry_count"].fillna(0).to_numpy() > 0
    cron = pdf["cron_name"].notna().to_numpy()
    sched = pdf["run_at"].notna().to_numpy()
    cls = np.where(retry, "retry",
                   np.where(cron, "cron", np.where(sched, "scheduled", "execution")))
    basis = pdf["enqueued_at"].copy()
    basis[sched] = pdf["run_at"][sched]
    has_retry_stamp = retry & pdf["last_retried_at"].notna().to_numpy()
    basis[has_retry_stamp] = pdf["last_retried_at"][has_retry_stamp]
    wait_ms = (pd.Timestamp(now) - pd.to_datetime(basis)).dt.total_seconds() * 1000
    out = {}
    for c in np.unique(cls):
        vals = wait_ms[cls == c].dropna()
        if len(vals):
            out[str(c)] = float(vals.mean())
    return out


@dataclass
class MetricsSink(Metrics):
    """In-memory recorder — the default sink for tests and local runs."""

    counters: dict = field(default_factory=dict)
    timings: dict = field(default_factory=dict)
    gauges: dict = field(default_factory=dict)

    def increment(self, key: str, n: int = 1, tags: dict | None = None) -> None:
        k = self._k(key, tags)
        self.counters[k] = self.counters.get(k, 0) + n

    def timing(self, key: str, ms: float, tags: dict | None = None) -> None:
        self.timings.setdefault(self._k(key, tags), []).append(ms)

    def gauge(self, key: str, value: float, tags: dict | None = None) -> None:
        self.gauges[self._k(key, tags)] = value

    @staticmethod
    def _k(key: str, tags: dict | None) -> str:
        if not tags:
            return key
        return key + "," + ",".join(f"{k}={v}" for k, v in sorted(tags.items()))


@dataclass
class StatsDMetrics(Metrics):
    """Specimen StatsD backend (statsd.clj default-opts parity:
    host/port/prefix/sample-rate/static tags/enabled toggle). Emits the
    plain StatsD line protocol — ``<prefix><key>:<value>|<type>`` with
    ``|@rate`` sampling and ``|#k:v`` tag extensions — via stdlib UDP;
    works against statsd, Datadog agents, Telegraf, Vector, etc."""

    host: str = "localhost"
    port: int = 8125
    prefix: str = "goose."
    sample_rate: float = 1.0
    tags: dict = field(default_factory=dict)
    enabled_flag: bool = True
    _sock: socket.socket | None = field(default=None, repr=False)

    def enabled(self) -> bool:
        return self.enabled_flag

    def increment(self, key: str, n: int = 1, tags: dict | None = None) -> None:
        self._send(key, n, "c", tags)

    def timing(self, key: str, ms: float, tags: dict | None = None) -> None:
        self._send(key, ms, "ms", tags)

    def gauge(self, key: str, value: float, tags: dict | None = None) -> None:
        self._send(key, value, "g", tags)

    def _send(self, key: str, value, type_char: str, tags: dict | None) -> None:
        if not self.enabled_flag:
            return
        if self.sample_rate < 1.0 and random.random() > self.sample_rate:
            return
        line = f"{self.prefix}{key}:{value}|{type_char}"
        if self.sample_rate < 1.0:
            line += f"|@{self.sample_rate}"
        merged = {**self.tags, **(tags or {})}
        if merged:
            line += "|#" + ",".join(f"{k}:{v}" for k, v in sorted(merged.items()))
        if self._sock is None:
            self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        try:
            self._sock.sendto(line.encode("utf-8"), (self.host, self.port))
        except OSError:
            pass  # metrics must never break the worker (fire-and-forget UDP)

