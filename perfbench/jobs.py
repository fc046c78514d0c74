"""The ``jobs_stream`` workload (open loop).

One generator thread appends a 40-job chunk every 0.1 s on schedule
(400 jobs/s), however far behind the worker is, through the engine's
row builder (``JobClient._job_row``) and ``Ledger.append_rows``. One
worker consumes it with ``Worker.start(trigger_sec=0.25)``. One
closed-loop reader thread calls ``LedgerAPI.dashboard_counts``, ``size``,
``page`` and ``find_by_id`` on the same ledger the whole time.

The feed has two windows on one stream: a warm window (set-up: the
stream's first slow triggers, JIT and Python workers) and the timed
window of ``--seconds``. Jobs due in the timed window are the measured
ones; after the feed stops the run waits until every job has succeeded.

Latency of a job is its success commit time (the ledger's ns ``seq``
clock) minus the time it was due: its chunk's scheduled send time, or
its ``run_at`` for a scheduled job. The mix is 1% ``flaky`` jobs (fail
once, retried with zero delay), 2% jobs scheduled 0.5-2 s ahead, the
rest ``noop``.
"""

from __future__ import annotations

import os
import threading
import time
from datetime import datetime, timezone
from statistics import median

from perfbench.common import jvm_gc_ms, log, percentile
from perfbench.datagen import JobMix, job_row

CHUNK = 40
PERIOD_S = 0.1
TRIGGER_S = 0.25
WARM_S = {"full": 5.0, "tiny": 1.0}
FLAKY_EVERY = 100
SCHEDULED_EVERY = 50
DONE_TIMEOUT_S = 60.0


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _epoch(dt: datetime) -> float:
    return dt.replace(tzinfo=timezone.utc).timestamp()


# ---------------------------------------------------------------------------
# ledger reads and the correctness check
# ---------------------------------------------------------------------------

def _log_files(ledger) -> list[str]:
    """Committed log files. Like Spark's file source, skip names that
    start with "." or "_": an append writes a hidden temp file first
    and renames it into place."""
    return [os.path.join(ledger.log_dir, f) for f in sorted(os.listdir(ledger.log_dir))
            if f.endswith(".parquet") and not f.startswith((".", "_"))]


def log_rows(ledger) -> list[tuple]:
    """(id, status, seq) of every row in the ledger log."""
    import duckdb

    files = _log_files(ledger)
    if not files:
        return []
    con = duckdb.connect()
    try:
        return con.execute("SELECT id, status, seq FROM read_parquet(?)", [files]).fetchall()
    finally:
        con.close()


def success_seq(rows) -> dict[str, list[int]]:
    out: dict[str, list[int]] = {}
    for jid, status, seq in rows:
        if status == "success":
            out.setdefault(jid, []).append(seq)
    return out


def check_jobs(jobs: list[dict], due: dict[str, float], rows, executions: int,
               scheduled_left: int) -> list[str]:
    """Every job succeeded exactly once, executions = jobs + retries,
    nothing died, no scheduled job ran before its run_at, and the
    scheduled store is empty. Returns what failed (job ids or labels)."""
    done = success_seq(rows)
    failed = []
    for j in jobs:
        seqs = done.get(j["id"], [])
        if len(seqs) != 1:
            failed.append(j["id"])
        elif j["kind"] == "scheduled" and seqs[0] / 1e9 < due[j["id"]]:
            failed.append(j["id"])
    dead = {jid for jid, status, _ in rows if status == "dead"}
    failed.extend(sorted(dead - set(failed)))
    retries = sum(1 for j in jobs if j["kind"] == "flaky")
    if executions != len(jobs) + retries:
        failed.append(f"executions {executions} != {len(jobs) + retries}")
    if scheduled_left:
        failed.append(f"scheduled store holds {scheduled_left} rows")
    return failed


def _scheduled_rows(worker) -> int:
    tbl = worker.ledger.read_scheduled()
    return 0 if tbl is None else tbl.num_rows


def _ledger_sizes(ledger) -> dict:
    files = _log_files(ledger)
    return {
        "streaming.ledger.log_files": len(files),
        "streaming.ledger.log_bytes": sum(os.path.getsize(f) for f in files),
        "streaming.ledger.scheduled_files": len(ledger.scheduled_files()),
    }


# ---------------------------------------------------------------------------
# load threads
# ---------------------------------------------------------------------------

class _Reader(threading.Thread):
    """Closed-loop console reader: the four reads in turn, each timed,
    until stopped. A read that raises is a failed op."""

    OPS = ("dashboard_counts", "size", "page", "find_by_id")

    def __init__(self, api, tracer, ids: list[str], stop: threading.Event):
        super().__init__(daemon=True)
        self.api, self.tracer, self.ids, self.stop_flag = api, tracer, ids, stop
        self.samples: list[tuple[float, str, float]] = []  # (start, op, seconds)
        self.errors: list[str] = []

    def _call(self, op: str, i: int):
        if op == "dashboard_counts":
            return self.api.dashboard_counts()
        if op == "size":
            return self.api.size()
        if op == "page":
            return self.api.page("default", 1)
        return self.api.find_by_id(self.ids[i % len(self.ids)])

    def run(self):
        i = 0
        while not self.stop_flag.is_set():
            op = self.OPS[i % len(self.OPS)]
            group = f"perfbench-read-{i}" if self.tracer.enabled else None
            t0 = time.perf_counter()
            try:
                with self.tracer.span(op, "api", rid=f"read-{i}", group=group):
                    self._call(op, i)
                self.samples.append((t0, op, time.perf_counter() - t0))
            except Exception as exc:  # noqa: BLE001 — a read error is a failed op
                self.errors.append(f"{op}: {type(exc).__name__}: {exc}"[:200])
            i += 1


class _Generator(threading.Thread):
    """Open-loop feed: chunk k is due at start + k·PERIOD_S and is sent
    then, however far behind the worker is."""

    def __init__(self, client, tracer, jobs: list[dict], start_epoch: float,
                 start_perf: float):
        super().__init__(daemon=True)
        self.client, self.tracer, self.jobs = client, tracer, jobs
        self.start_epoch, self.start_perf = start_epoch, start_perf
        self.due: dict[str, float] = {}
        self.lateness: list[tuple[float, float]] = []  # (offset, seconds late)
        self.errors: list[str] = []

    def run(self):
        for k in range(0, len(self.jobs), CHUNK):
            offset = (k // CHUNK) * PERIOD_S
            wait = self.start_perf + offset - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            self.lateness.append((offset, max(0.0, time.perf_counter() - self.start_perf - offset)))
            send = self.start_epoch + offset
            chunk = self.jobs[k:k + CHUNK]
            rid = f"chunk-{k // CHUNK}"
            try:
                with self.tracer.span("row_build", "client", rid=rid):
                    now = _utcnow()
                    rows = [job_row(self.client, j, now) for j in chunk]
                for j, r in zip(chunk, rows):
                    run_at = r.get("run_at")
                    self.due[j["id"]] = max(send, _epoch(run_at)) if run_at else send
                with self.tracer.span("append_rows", "streaming.ledger", rid=rid):
                    self.client.ledger.append_rows(rows)
            except Exception as exc:  # noqa: BLE001 — its jobs count as failed
                self.errors.append(f"{type(exc).__name__}: {exc}"[:200])


def _traced_tick(worker, tracer):
    """Wrap the worker's ``tick`` so each timer sweep shows as a span."""
    inner = worker.tick

    def tick():
        with tracer.span("tick", "streaming.worker"):
            inner()

    worker.tick = tick


def _await_progress(tracer, timeout: float = 5.0) -> None:
    """Progress events reach the listener asynchronously; wait until the
    count stops changing."""
    end = time.monotonic() + timeout
    last = -1
    while time.monotonic() < end and len(tracer.progress) != last:
        last = len(tracer.progress)
        time.sleep(0.3)


# ---------------------------------------------------------------------------
# the workload
# ---------------------------------------------------------------------------

def run_stream(spark, tracer, work, seed: int, seconds: float, scale: str, mark_timed):
    from goose_spark.api import LedgerAPI
    from goose_spark.client import JobClient
    from goose_spark.streaming.worker import Worker

    warm_s = WARM_S[scale]
    n_warm = int(round(warm_s / PERIOD_S)) * CHUNK
    n_timed = int(round(seconds / PERIOD_S)) * CHUNK
    jobs = JobMix(seed, FLAKY_EVERY, SCHEDULED_EVERY).draw(n_warm + n_timed, f"s{seed}")
    timed_jobs = jobs[n_warm:]

    root = work.path("ledger")
    client = JobClient(root)
    worker = Worker(spark, root, retry_delay_fn=lambda n: 0)
    if tracer.enabled:
        _traced_tick(worker, tracer)
    api = LedgerAPI(spark, root)
    stop = threading.Event()
    with tracer.span("stream", "bench", rid=f"stream-{seed}") as sp_run:
        with tracer.span("start", "streaming.worker"):
            handle = worker.start(trigger_sec=TRIGGER_S)
        reader = _Reader(api, tracer, [j["id"] for j in jobs[:CHUNK]], stop)
        start_perf = time.perf_counter()
        gen = _Generator(client, tracer, jobs, time.time(), start_perf)
        gen.start()
        reader.start()
        time.sleep(max(0.0, start_perf + warm_s - time.perf_counter()))
        mark_timed()
        timed_perf = time.perf_counter()
        timed_epoch = gen.start_epoch + warm_s
        window = tracer.window_start()
        gc0 = jvm_gc_ms(spark)
        gen.join()
        feed_end = time.time()
        deadline = time.monotonic() + DONE_TIMEOUT_S
        want = {j["id"] for j in jobs}
        while time.monotonic() < deadline:
            time.sleep(0.2)
            if want <= set(success_seq(log_rows(worker.ledger))):
                break
        done_perf = time.perf_counter()
        stop.set()
        reader.join(timeout=60)
        totals = tracer.window_totals(window)
        gc_ms = jvm_gc_ms(spark) - gc0
        stream_errors = []
        with tracer.span("stop", "streaming.worker"):
            try:
                handle.stop()
            except Exception as exc:  # noqa: BLE001 — a stream that died fails the run's ops
                stream_errors.append(f"worker stream: {type(exc).__name__}: {exc}"[:300])
    log(f"feed done, backlog drained {done_perf - timed_perf - seconds:.1f} s after")

    rows = log_rows(worker.ledger)
    failed = check_jobs(jobs, gen.due, rows, worker.executions, _scheduled_rows(worker))
    failed += gen.errors + reader.errors + stream_errors
    if reader.is_alive():
        failed.append("reader thread did not stop")
    done = success_seq(rows)
    lat = [done[j["id"]][0] / 1e9 - gen.due[j["id"]] for j in timed_jobs
           if j["id"] in done and j["id"] in gen.due]
    last_success = max((done[j["id"]][0] for j in timed_jobs if j["id"] in done),
                       default=0) / 1e9
    reads = [(op, s) for t0, op, s in reader.samples if t0 >= timed_perf]
    attempted = len(jobs) + len(reader.samples) + len(reader.errors)
    e2e = {
        "throughput_per_s": len(lat) / max(1e-9, last_success - timed_epoch),
        "latency_p50_s": percentile(lat, 50) if lat else float("nan"),
        "latency_p99_s": percentile(lat, 99) if lat else float("nan"),
    }
    layer = {}
    if tracer.enabled:
        _await_progress(tracer)
        tracer.progress_spans(sp_run)
        api_spans = [s for s in tracer.spans if s["layer"] == "api" and s["phase"] == "timed"]
        api_jobs = sum(s["spark_jobs"] for s in api_spans)
        api_tasks = sum(s["spark_tasks"] for s in api_spans)
        read_s = [s for _, s in reads]
        layer.update({
            "client.row_build_s": sum(tracer.seconds("row_build")),
            "streaming.ledger.append_s": sum(tracer.seconds("append_rows")),
            "streaming.worker.tick_s": sum(tracer.seconds("tick")),
            "streaming.worker.executions": worker.executions,
            "streaming.worker.backlog_drain_s": max(0.0, last_success - feed_end),
            "streaming.worker.spark_jobs": totals.spark_jobs - api_jobs,
            "streaming.worker.spark_tasks": totals.spark_tasks - api_tasks,
            "generator.lateness_max_s": max(s for off, s in gen.lateness if off >= warm_s),
            "api.read_p50_s": median(read_s) if read_s else 0.0,
            "api.reads_per_s": len(read_s) / max(1e-9, done_perf - timed_perf),
            "api.spark_jobs_per_read": api_jobs / max(1, len(api_spans)),
            "jvm.gc_ms": gc_ms,
            "spark.jobs": totals.spark_jobs,
            "spark.stages": totals.spark_stages,
            "spark.tasks": totals.spark_tasks,
            "spark.executor_run_s": totals.executor_run_s,
            "spark.shuffle_bytes": totals.shuffle_read_bytes + totals.shuffle_write_bytes,
            **_ledger_sizes(worker.ledger),
        })
        for op in _Reader.OPS:
            vals = [s for o, s in reads if o == op]
            if vals:
                layer[f"api.{op}_s"] = median(vals)
        layer.update(_trigger_stats(tracer))
    return e2e, layer, attempted, failed


def _trigger_stats(tracer) -> dict:
    """p50 of each durationMs phase over the timed window's micro-batches
    that read rows, plus their count and rows per batch."""
    recs = [r for r in tracer.progress if r["phase"] == "timed" and r["rows"] > 0]
    out = {"streaming.worker.micro_batches": len(recs)}
    if not recs:
        return out
    out["streaming.worker.rows_per_batch_p50"] = median([r["rows"] for r in recs])
    for key, name in (("triggerExecution", "trigger_ms_p50"), ("addBatch", "add_batch_ms_p50"),
                      ("queryPlanning", "query_planning_ms_p50"),
                      ("walCommit", "wal_commit_ms_p50"),
                      ("latestOffset", "latest_offset_ms_p50")):
        out[f"streaming.worker.{name}"] = median([r["duration_ms"].get(key, 0) for r in recs])
    return out
