"""Driver placement of bounded job batches: a micro-batch or due-sweep
chunk of at most ``SMALL_BATCH_ROWS`` rows is read with pyarrow and its
job fns run in the driver, with no Spark job; larger ones run through
``mapInPandas``. These tests pin the job budget of the driver body, the
agreement of the two placements on outcomes, handlers and middleware,
and the deletion index as the driver path reads it."""

from __future__ import annotations

import os
import uuid
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import goose_spark.streaming.worker as worker_mod
from goose_spark.api import LedgerAPI
from goose_spark.client import JobClient
from goose_spark.plans.profile import group_profile, job_group
from goose_spark.schema import PRIORITY_BACK, PRIORITY_FRONT
from goose_spark.streaming.ledger import ARROW_LOG_SCHEMA, Ledger, visible_parquet
from goose_spark.streaming.worker import Worker


@pytest.fixture()
def ledger(tmp_path):
    return Ledger(str(tmp_path / "ledger"))


def test_small_micro_batch_body_runs_no_spark_job(spark, ledger, monkeypatch):
    """The body of a 20-row micro-batch runs 0 Spark jobs and never
    reads the streaming batch frame. The stream pass records the epoch
    without executing; the real body then runs on the test thread under
    a job group, with ``None`` for the batch frame."""
    client = JobClient(ledger)
    for i in range(20):
        client.perform_async("noop", i)
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    epochs = []
    monkeypatch.setattr(Worker, "_for_each_batch",
                        lambda self, batch_df, epoch_id: epochs.append(epoch_id))
    worker.process_available()
    monkeypatch.undo()
    assert epochs == [0]
    group = f"micro-batch-{uuid.uuid4().hex}"
    with job_group(spark, group):
        worker._for_each_batch(None, 0)
    assert group_profile(spark, group)["jobs"] == 0
    assert worker.executions == 20
    assert LedgerAPI(spark, ledger).dashboard_counts() == {"success": 20}


def _run_mix(spark, base: str, skip_dead_queue: bool):
    """Run one job mix through a worker and return what each placement
    must agree on, keyed by job label."""
    os.makedirs(base)
    handler_log = os.path.join(base, "handlers.log")
    calls_dir = os.path.join(base, "calls")
    os.makedirs(calls_dir)
    ledger = Ledger(os.path.join(base, "ledger"))
    client = JobClient(ledger)
    labels = {}

    def add(label, fn, *args, **opts):
        labels[client.perform_async(fn, *args, **opts)["id"]] = label

    add("noop-1", "noop", 1)
    add("noop-2", "noop", 2)
    # the flaky key is a directory under `base`; the recording error
    # handler's append to it fails and is swallowed on both placements
    add("flaky", "flaky", os.path.join(base, "flaky"), 1, max_retries=3)
    add("die-now", "always-fail", handler_log, max_retries=0)
    add("die-later", "always-fail", handler_log, max_retries=1, retry_queue="retry-q")

    def count_calls(next_fn):
        def wrapped(job):
            open(os.path.join(calls_dir, f"{job['id']}-{uuid.uuid4().hex}"), "w").close()
            return next_fn(job)

        return wrapped

    worker = Worker(spark, ledger, retry_delay_fn=lambda n: 0,
                    middlewares=(count_calls,),
                    error_handler="record-error-handler",
                    death_handler="record-death-handler",
                    skip_dead_queue=skip_dead_queue)
    worker.process_available()  # first attempts; its tick runs the due retries
    worker.process_available()  # consumes the sweep's outcome rows
    state = {
        labels[r["id"]]: (
            r["status"], r["retry_count"], (r["error"] or "").replace(base, "<base>"),
            r["queue"], r["died_at"] is None, r["run_at"] is None,
        )
        for r in ledger.state(spark).collect()
    }
    handlers = Counter()
    if os.path.exists(handler_log):
        for line in open(handler_log).read().splitlines():
            tag, jid, _ = line.split(" ", 2)
            handlers[(tag, labels[jid])] += 1
    middleware = Counter(labels[f.rsplit("-", 1)[0]] for f in os.listdir(calls_dir))
    return state, handlers, middleware, worker.executions


@pytest.mark.parametrize("skip_dead_queue", [False, True], ids=["dead", "skip_dead_queue"])
def test_driver_and_distributed_placements_agree(spark, tmp_path, monkeypatch, skip_dead_queue):
    """The mix agrees on three placements: driver threads; mapInPandas
    with the driver commit, which takes the rows the driver's CPU budget
    leaves (here all of them); and the fully distributed path
    (SMALL_BATCH_ROWS=0)."""
    driver = _run_mix(spark, str(tmp_path / "driver"), skip_dead_queue)
    with monkeypatch.context() as m:
        m.setattr(Worker, "_run_local", lambda self, pdf: (ARROW_LOG_SCHEMA.empty_table(), pdf))
        over_budget = _run_mix(spark, str(tmp_path / "over-budget"), skip_dead_queue)
    monkeypatch.setattr(worker_mod, "SMALL_BATCH_ROWS", 0)
    distributed = _run_mix(spark, str(tmp_path / "distributed"), skip_dead_queue)
    assert driver == over_budget == distributed
    state, handlers, middleware, executions = driver
    dead = "deleted" if skip_dead_queue else "dead"
    assert {k: v[0] for k, v in state.items()} == {
        "noop-1": "success", "noop-2": "success", "flaky": "success",
        "die-now": dead, "die-later": dead,
    }
    assert state["die-later"][3] == "retry-q"
    assert handlers == {("death", "die-now"): 1, ("error", "die-later"): 1,
                        ("death", "die-later"): 1}
    assert middleware == {"noop-1": 1, "noop-2": 1, "flaky": 2, "die-now": 1, "die-later": 2}
    assert executions == 7


def test_live_log_rows_ignores_hidden_tombstone_files(spark, ledger):
    """The Arrow tombstone read lists files as Spark's reader does: a
    hidden ``.tmp-*`` write (not yet renamed into place) suppresses
    nothing."""
    client = JobClient(ledger)
    a = client.perform_async("noop", 1)["id"]
    b = client.perform_async("noop", 2)["id"]
    pq.write_table(
        pa.table({"id": [a], "max_seq": pa.array([Ledger.TOMB_ALL], type=pa.int64())}),
        os.path.join(ledger.tombstones_dir, f".tmp-{uuid.uuid4().hex}.parquet"),
    )
    log_files = visible_parquet(ledger.log_dir)
    assert sorted(ledger.live_log_rows(log_files)["id"].to_pylist()) == sorted([a, b])
    assert ledger.tombstoned_ids(spark) is None
    ledger.add_tombstones([b])
    assert ledger.live_log_rows(log_files)["id"].to_pylist() == [a]


def test_driver_path_skips_deleted_and_superseded_rows(spark, ledger, monkeypatch):
    """On the driver path a deleted job does not execute, and a job
    moved to the front (``prioritise``) executes once, from its new
    row: the supersession tombstone drops its older enqueued row."""
    client = JobClient(ledger)
    keep = client.perform_async("noop", 1)["id"]
    gone = client.perform_async("noop", 2)["id"]
    moved = client.perform_async("noop", 3)["id"]
    api = LedgerAPI(spark, ledger)
    assert api.delete_jobs([gone]) == 1
    assert api.prioritise_execution([moved]) == 1
    calls = []
    local = Worker._process_batch_local

    def spy(self, files):
        calls.append(len(files))
        return local(self, files)

    monkeypatch.setattr(Worker, "_process_batch_local", spy)
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    assert calls  # the batch took the driver path
    assert worker.executions == 2
    state = {r["id"]: (r["status"], r["priority"]) for r in ledger.state(spark).collect()}
    assert state[keep][0] == "success"
    assert state[gone][0] == "deleted"
    assert state[moved] == ("success", PRIORITY_FRONT)
    successes = ledger.log(spark).filter(f"id = '{moved}' AND status = 'success'").count()
    assert successes == 1


@pytest.mark.parametrize("tomb_rows, driver", [(5, True), (6, False)])
def test_deletion_index_above_bound_takes_distributed_path(spark, ledger, monkeypatch,
                                                           tomb_rows, driver):
    """A small batch runs in the driver only while the deletion index it
    is filtered against also fits ``SMALL_BATCH_ROWS`` by its footers;
    a larger index sends the batch to the distributed path, which
    leaves the join to Spark. Both apply the index."""
    monkeypatch.setattr(worker_mod, "SMALL_BATCH_ROWS", 5)
    client = JobClient(ledger)
    ids = [client.perform_async("noop", i)["id"] for i in range(3)]
    ledger.add_tombstones([ids[0]] + [f"other-{i}" for i in range(tomb_rows - 1)])
    calls = []
    local = Worker._process_batch_local
    monkeypatch.setattr(Worker, "_process_batch_local",
                        lambda self, files: calls.append(files) or local(self, files))
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    assert bool(calls) == driver
    assert worker.executions == 2
    state = {r["id"]: r["status"] for r in ledger.state(spark).collect()}
    assert [state[i] for i in ids] == ["enqueued", "success", "success"]


def test_driver_batch_reports_input_rows(spark, ledger, monkeypatch):
    """Spark's progress reads 0 input rows for a batch run in the
    driver, so the worker reports the batch's rows and duration through
    the metrics backend; a distributed batch is left to Spark's own."""
    from goose_spark.streaming.metrics import Metrics, MetricsSink

    client = JobClient(ledger)
    for i in range(20):
        client.perform_async("noop", i)
    sink = MetricsSink()
    Worker(spark, ledger, rand_int=lambda n: 0, metrics=sink).process_available()
    assert sink.counters[Metrics.MICRO_BATCH_ROWS] == 20
    assert len(sink.timings[Metrics.MICRO_BATCH_TIME]) == 1
    assert sink.counters[Metrics.JOBS_PROCESSED] == 20

    for i in range(20):
        client.perform_async("noop", i)
    monkeypatch.setattr(worker_mod, "SMALL_BATCH_ROWS", 0)
    sink = MetricsSink()
    Worker(spark, ledger, rand_int=lambda n: 0, metrics=sink).process_available()
    assert Metrics.MICRO_BATCH_ROWS not in sink.counters
    assert sink.counters[Metrics.JOBS_PROCESSED] == 20


def test_driver_placement_runs_chunks_on_threads(spark, ledger):
    """A driver-placed batch runs its chunks of ``ROWS_PER_TASK`` rows
    on up to ``defaultParallelism`` threads, so job fns that wait keep
    the fan-out mapInPandas tasks gave them; each thread takes its rows
    in priority order."""
    import threading

    client = JobClient(ledger)
    n = 4 * worker_mod.ROWS_PER_TASK
    for i in range(n):
        client.perform_async("time:sleep", 0.002,
                             priority=PRIORITY_FRONT if i % 2 else PRIORITY_BACK)
    lock, inflight, peak, seen = threading.Lock(), [0], [0], {}

    def track(next_fn):
        def wrapped(job):
            with lock:
                inflight[0] += 1
                peak[0] = max(peak[0], inflight[0])
                seen.setdefault(threading.get_ident(), []).append(job["id"])
            try:
                return next_fn(job)
            finally:
                with lock:
                    inflight[0] -= 1

        return wrapped

    worker = Worker(spark, ledger, rand_int=lambda n: 0, middlewares=(track,))
    worker.process_available()
    assert worker.executions == n
    threads = min(4, spark.sparkContext.defaultParallelism)
    assert len(seen) == threads
    if threads > 1:
        assert peak[0] > 1
    prio = {r["id"]: r["priority"] for r in ledger.state(spark).collect()}
    for ids in seen.values():
        prios = [prio[i] for i in ids]
        assert prios == sorted(prios, reverse=True)


def test_cpu_bound_job_fns_leave_the_driver(spark, ledger, tmp_path, monkeypatch):
    """Driver threads do not spread Python CPU (the GIL), so job fns
    that hold the driver's CPU past ``_DRIVER_CPU_S`` go to mapInPandas:
    within a batch, the chunks not started once the budget is spent; in
    later batches, every row but the first chunk of a frame whose rows
    would cost more at the CPU per row of the last driver batch. That
    first chunk renews the estimate, so job fns that turn cheap bring
    multi-chunk batches back to the driver. A middleware records where
    each job ran: a driver thread has no task context."""
    import time

    marks = tmp_path / "marks"
    marks.mkdir()

    def placement(cpu_s):
        def middleware(next_fn):
            def wrapped(job):
                from pyspark import TaskContext

                where = "driver" if TaskContext.get() is None else "executors"
                open(os.path.join(str(marks), f"{where}-{uuid.uuid4().hex}"), "w").close()
                start = time.thread_time()
                while time.thread_time() - start < cpu_s[0]:
                    pass
                return next_fn(job)

            return wrapped

        return middleware

    def batch(worker, rows):
        for f in os.listdir(marks):
            os.remove(os.path.join(marks, f))
        client = JobClient(worker.ledger)
        for i in range(rows):
            client.perform_async("noop", i)
        worker.process_available()
        return Counter(f.split("-")[0] for f in os.listdir(marks))

    cheap = Worker(spark, Ledger(str(tmp_path / "cheap")), rand_int=lambda n: 0,
                   middlewares=(placement([0.0]),))
    rows = 2 * worker_mod.ROWS_PER_TASK
    assert batch(cheap, rows) == {"driver": rows}
    assert batch(cheap, rows) == {"driver": rows}

    chunk = 8
    monkeypatch.setattr(worker_mod, "ROWS_PER_TASK", chunk)
    monkeypatch.setattr(worker_mod, "_DRIVER_CPU_S", 0.02)
    cpu_s = [0.001]  # read by the job, so executors see the value at submit
    worker = Worker(spark, ledger, rand_int=lambda n: 0, middlewares=(placement(cpu_s),))
    first = 4 * spark.sparkContext.defaultParallelism * chunk
    split = batch(worker, first)
    assert split["driver"] > 0 and split["executors"] > 0
    assert split["driver"] + split["executors"] == first
    assert worker._cpu_s_per_row >= 0.001
    # 32 rows × ≥1 ms > 20 ms: all but the first chunk leave the driver
    assert batch(worker, 4 * chunk) == {"driver": chunk, "executors": 3 * chunk}
    assert batch(worker, chunk) == {"driver": chunk}
    cpu_s[0] = 0.0
    assert batch(worker, 4 * chunk) == {"driver": chunk, "executors": 3 * chunk}
    assert batch(worker, 4 * chunk) == {"driver": 4 * chunk}
    assert worker.executions == first + 13 * chunk
    assert LedgerAPI(spark, ledger).dashboard_counts() == {"success": first + 13 * chunk}
