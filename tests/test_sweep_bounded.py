"""W7 due-sweep scale tests: the sweep must never materialize the whole
scheduled backlog in driver memory. Reference contract: pop at most
``redis-scheduled-jobs-pop-limit`` (50) jobs per poll
(src/goose/defaults.clj:49, src/goose/brokers/redis/commands.clj:219-228)
and re-poll immediately while due jobs are found
(src/goose/brokers/redis/scheduler.clj:36-48). The engine's analog:
``Ledger.pop_due`` bounds one pop at ``schedule_pop_limit`` rows (plus at
most one row-group of slack) and ``Worker._sweep_due`` loops until dry.

The sweep's stale-guard (``Ledger.latest_rows``) is a seq-pruned Arrow
point lookup; the tests below pin it to the ``state()`` view it replaces
and pin the Spark-job budget of a tick."""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from goose_spark.api import LedgerAPI
from goose_spark.client import JobClient
from goose_spark.plans.profile import group_profile, job_group
from goose_spark.schema import (
    PRIORITY_BACK,
    STATUS_ENQUEUED,
    STATUS_RETRYING,
    STATUS_SCHEDULED,
    STATUS_SUCCESS,
)
from goose_spark.streaming.ledger import ARROW_LOG_SCHEMA, Ledger, next_seq
from goose_spark.streaming.worker import Worker


def utcnow():
    return datetime.now(timezone.utc).replace(tzinfo=None)


@pytest.fixture()
def ledger(tmp_path):
    return Ledger(str(tmp_path / "ledger"))


def _scheduled_table(n: int, run_at: datetime) -> pa.Table:
    """n synthetic parked rows, all with the same run_at."""
    now = utcnow()
    cols = {
        "id": [str(uuid.uuid4()) for _ in range(n)],
        "queue": ["default"] * n,
        "execute_fn": ["noop"] * n,
        "args": ["[]"] * n,
        "status": [STATUS_SCHEDULED] * n,
        "priority": [PRIORITY_BACK] * n,
        "enqueued_at": [now] * n,
        "run_at": [run_at] * n,
        "cron_name": [None] * n,
        "batch_id": [None] * n,
        "retry_count": [0] * n,
        "max_retries": [27] * n,
        "retry_queue": [None] * n,
        "error": [None] * n,
        "first_failed_at": [None] * n,
        "last_retried_at": [None] * n,
        "died_at": [None] * n,
        "worker_id": [None] * n,
    }
    base = next_seq()
    cols["seq"] = [base + i for i in range(n)]
    return pa.Table.from_arrays(
        [pa.array(cols[f.name], type=f.type) for f in ARROW_LOG_SCHEMA],
        schema=ARROW_LOG_SCHEMA,
    )


def _park_and_log(ledger: Ledger, table: pa.Table) -> None:
    """Park rows AND append the matching log rows, so the sweep's
    stale-guard sees each parked row as its job's latest state."""
    ledger.park(table)
    tmp = os.path.join(ledger.log_dir, f".tmp-{uuid.uuid4().hex}.parquet")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(ledger.log_dir, f"{next_seq()}-{uuid.uuid4().hex}.parquet"))


def _drain_pops(ledger: Ledger, now, limit: int):
    """Pop until dry; return the list of per-pop row counts and all ids."""
    sizes, ids = [], []
    while True:
        tbl, files, more = ledger.pop_due(now, limit)
        if tbl is None:
            if files:
                ledger.replace_scheduled(None, files)
            break
        sizes.append(tbl.num_rows)
        ids.extend(tbl["id"].to_pylist())
        ledger.replace_scheduled(None, files)
        if not more and not ledger.scheduled_files(due_before=now):
            break
    return sizes, ids


# --- pure-ledger pop semantics ---------------------------------------------

def test_pop_due_bounded_whole_files(ledger):
    past = utcnow() - timedelta(hours=1)
    for _ in range(5):
        ledger.park(_scheduled_table(40, past))
    sizes, ids = _drain_pops(ledger, utcnow(), limit=100)
    # each pop ≤ limit (whole 40-row files pack under it), union is exact
    assert all(s <= 100 for s in sizes)
    assert len(sizes) >= 2  # genuinely chunked, not one big read
    assert len(ids) == 200 and len(set(ids)) == 200
    assert ledger.scheduled_files() == []


def test_pop_due_parity_limit_50(ledger):
    # goose's literal pop limit (defaults.clj:49) must work too
    past = utcnow() - timedelta(minutes=5)
    for _ in range(4):
        ledger.park(_scheduled_table(50, past))
    sizes, ids = _drain_pops(ledger, utcnow(), limit=50)
    assert all(s <= 50 for s in sizes)
    assert len(ids) == 200 and len(set(ids)) == 200


def test_pop_due_splits_oversized_file(ledger, monkeypatch):
    # one park file far bigger than the limit: pop must consume head row
    # groups only and stream the tail into a replacement file
    monkeypatch.setattr(Ledger, "PARK_ROW_GROUP", 1_000)
    past = utcnow() - timedelta(minutes=5)
    ledger.park(_scheduled_table(10_000, past))
    assert len(ledger.scheduled_files()) == 1
    tbl, files, more = ledger.pop_due(utcnow(), limit=2_500)
    assert more is True
    assert 2_500 <= tbl.num_rows <= 2_500 + 1_000  # ≤ one row-group slack
    ledger.replace_scheduled(None, files)
    # tail survived in the replacement file
    rest = ledger.read_scheduled()
    assert rest.num_rows == 10_000 - tbl.num_rows
    sizes, ids = _drain_pops(ledger, utcnow(), limit=2_500)
    assert all(s <= 3_500 for s in sizes)
    assert len(set(ids)) == len(ids) == rest.num_rows


def test_pop_due_stats_prune_future_rows(ledger):
    # rows due later inside the CURRENT hour bucket: min-stats skip the
    # file unread — not consumed, and `more` stays False (no spin)
    future = utcnow() + timedelta(seconds=1800)
    if future.hour != utcnow().hour:
        future = utcnow() + timedelta(seconds=5)  # hour boundary: stay in-bucket
    ledger.park(_scheduled_table(30, future))
    tbl, files, more = ledger.pop_due(utcnow(), limit=100)
    assert tbl is None and files == [] and more is False
    assert len(ledger.scheduled_files()) == 1  # left in place


# --- end-to-end: mass-retry-wave drain under a driver-memory cap -----------

def test_sweep_massive_backlog_bounded(spark, ledger, monkeypatch):
    """~500k rows all due now (the mass-retry-wave shape) drain through
    tick() in bounded pops — no single materialization over the full
    backlog, no read_scheduled() call at all."""
    N, LIMIT = 500_000, 50_000
    past = utcnow() - timedelta(hours=2)
    # park in several files (micro-batches would produce many) plus one
    # oversized file to exercise the row-group split path under load
    _park_and_log(ledger, _scheduled_table(N - 200_000, past))
    _park_and_log(ledger, _scheduled_table(100_000, past))
    _park_and_log(ledger, _scheduled_table(100_000, past))

    pops: list[int] = []
    orig_pop = Ledger.pop_due

    def spy(self, now, limit):
        tbl, files, more = orig_pop(self, now, limit)
        pops.append(0 if tbl is None else tbl.num_rows)
        return tbl, files, more

    def no_full_read(self, files=None):
        raise AssertionError("sweep called read_scheduled() — unbounded backlog read")

    monkeypatch.setattr(Ledger, "pop_due", spy)
    monkeypatch.setattr(Ledger, "read_scheduled", no_full_read)

    worker = Worker(spark, ledger, rand_int=lambda n: 0, schedule_pop_limit=LIMIT)
    worker.tick()

    assert max(pops) <= LIMIT + Ledger.PARK_ROW_GROUP  # driver-memory cap
    assert len([p for p in pops if p]) >= N // (LIMIT + Ledger.PARK_ROW_GROUP)
    assert ledger.scheduled_files() == []  # fully drained in one tick
    assert LedgerAPI(spark, ledger).dashboard_counts() == {"success": N}


# --- stale-guard lookup: Ledger.latest_rows == state() ----------------------

def _row(job_id: str, status: str, run_at=None) -> dict:
    return {
        "id": job_id, "queue": "default", "execute_fn": "noop", "args": "[]",
        "status": status, "priority": PRIORITY_BACK, "enqueued_at": utcnow(),
        "run_at": run_at, "max_retries": 27,
    }


def _state_rows(spark, ledger: Ledger, ids) -> dict:
    return {
        r["id"]: (r["seq"], r["status"])
        for r in ledger.state(spark).filter(F.col("id").isin(list(ids)))
        .select("id", "seq", "status").collect()
    }


def test_latest_rows_matches_state(spark, ledger):
    """The lookup answers what the state view answers for the popped ids,
    over every kind of file ``log()`` reads or skips."""
    past = utcnow() - timedelta(minutes=1)
    # "redelivered": a retry the sweep already ran; the stream re-parks
    # its retrying row after the job succeeded
    ledger.append_rows([_row("redelivered", STATUS_ENQUEUED)])
    ledger.append_rows([_row("redelivered", STATUS_RETRYING, past)])
    ledger.append_rows([_row("prioritised", STATUS_SCHEDULED, past)])
    ledger.append_rows([_row("live", STATUS_SCHEDULED, past)])
    # fold every raw file so far into a gen-* generation
    folded = ledger.compact_log(spark, checkpoints=[], min_files=1, keep_recent=0)
    assert folded["folded"] == 4
    assert [f for f in os.listdir(ledger.log_dir) if f.startswith("gen-")]
    ledger.append_rows([_row("redelivered", STATUS_SUCCESS)])
    # prioritise_execution re-emits an enqueued row and supersedes the
    # scheduled one
    assert LedgerAPI(spark, ledger).prioritise_execution(["prioritised"]) == 1
    # a hidden in-flight write: Spark's reader skips it, so must the lookup
    hidden = pa.Table.from_pylist([{**_row("live", STATUS_SUCCESS), "seq": next_seq()}],
                                  schema=ARROW_LOG_SCHEMA)
    pq.write_table(hidden, os.path.join(ledger.log_dir, f".tmp-{uuid.uuid4().hex}.parquet"))

    ids = ["redelivered", "prioritised", "live", "absent-1", "absent-2"]
    want = _state_rows(spark, ledger, ids)
    assert set(want) == {"redelivered", "prioritised", "live"}
    assert want["redelivered"][1] == STATUS_SUCCESS
    assert want["prioritised"][1] == STATUS_ENQUEUED
    assert want["live"][1] == STATUS_SCHEDULED
    assert ledger.latest_rows(ids, 0) == want
    # the sweep's bound: the oldest popped (parked) row's seq
    log = ledger.log(spark).toPandas()
    parked_seq = {
        i: int(log[(log["id"] == i) & log["status"].isin([STATUS_SCHEDULED, STATUS_RETRYING])]["seq"].iloc[0])
        for i in ("redelivered", "prioritised", "live")
    }
    lo = min(parked_seq.values())
    assert lo > int(log["seq"].min())  # the bound genuinely prunes rows
    assert ledger.latest_rows(ids, lo) == want
    # rows above the bound only: the pruned lookup drops what state keeps
    assert ledger.latest_rows(ids, max(s for s, _ in want.values()) + 1) == {}
    # the guard's verdict: only the untouched parked row is live
    live = {i for i, s in parked_seq.items()
            if want[i][0] == s and want[i][1] in (STATUS_SCHEDULED, STATUS_RETRYING)}
    assert live == {"live"}


def test_latest_rows_empty_log(spark, ledger):
    assert ledger.latest_rows(["a", "b"], 0) == {}
    assert ledger.state(spark).count() == 0
    ledger.append_rows([_row("a", STATUS_SCHEDULED)])
    assert ledger.latest_rows([], 0) == {}


# --- redelivery end to end ---------------------------------------------------

def test_redelivered_retry_executes_once(spark, ledger):
    """The sweep runs a zero-delay retry in the first pass's tick; the
    second pass's stream redelivers (and re-parks) that retrying row.
    The guard must drop it: two executions, one success."""
    JobClient(ledger).perform_async("flaky", f"redeliver-{uuid.uuid4().hex}", 1)
    worker = Worker(spark, ledger, retry_delay_fn=lambda n: 0)
    worker.process_available()
    assert worker.executions == 2  # the failure, then the swept retry
    worker.process_available()
    assert worker.executions == 2
    assert LedgerAPI(spark, ledger).dashboard_counts() == {"success": 1}
    assert ledger.scheduled_files() == []


# --- Spark-job budget of one tick -------------------------------------------

def test_tick_job_budget(spark, ledger):
    """A tick that executes 20 due rows runs no Spark job (the chunk is
    below SMALL_BATCH_ROWS, so the jobs execute in the driver); neither
    does a tick whose pop is all stale."""
    run_at = utcnow() + timedelta(days=1)
    table = _scheduled_table(20, run_at)
    _park_and_log(ledger, table)
    worker = Worker(spark, ledger, rand_int=lambda n: 0,
                    now_fn=lambda: run_at + timedelta(minutes=1))
    tag = uuid.uuid4().hex
    with job_group(spark, f"tick-due-{tag}"):
        worker.tick()
    prof = group_profile(spark, f"tick-due-{tag}")
    assert prof["jobs"] == 0, prof
    assert worker.executions == 20
    assert ledger.scheduled_files() == []
    # the same rows parked again are stale: each job's latest row is
    # now its success
    ledger.park(table)
    with job_group(spark, f"tick-stale-{tag}"):
        worker.tick()
    assert group_profile(spark, f"tick-stale-{tag}")["jobs"] == 0
    assert worker.executions == 20
    assert ledger.scheduled_files() == []
