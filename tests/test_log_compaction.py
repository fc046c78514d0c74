"""Generational ledger-log compaction (round-10 directive #5): fold
stream-committed micro-batch files into gen-* generations WHILE
consumers run — bounded per-trigger listing cost, zero behavior change."""

from __future__ import annotations

import glob
import json
import os

import pytest

from goose_spark.client import JobClient
from goose_spark.functions.registry import reset_flaky
from goose_spark.streaming.commit import Publisher
from goose_spark.streaming.ledger import Ledger, _stream_committed_files
from goose_spark.streaming.worker import Worker


@pytest.fixture(autouse=True)
def _reset_flaky():
    reset_flaky()


@pytest.fixture()
def ledger(tmp_path):
    return Ledger(str(tmp_path / "ledger"))


def _raw_files(ledger):
    return sorted(
        os.path.basename(f)
        for f in glob.glob(os.path.join(ledger.log_dir, "*.parquet"))
        if not os.path.basename(f).startswith("gen-")
    )


def _gen_files(ledger):
    return sorted(
        os.path.basename(f)
        for f in glob.glob(os.path.join(ledger.log_dir, "gen-*.parquet"))
    )


def test_fold_is_transparent_to_running_worker(spark, ledger):
    """Fold after a worker pass: no re-execution on the same checkpoint,
    state identical before/after, new appends still consumed — the
    stream never notices the fold."""
    client = JobClient(ledger)
    for i in range(30):  # 30 separate appends → 30 raw log files
        client.perform_async("noop", i)
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    assert worker.executions == 30

    before_state = sorted(
        (r["id"], r["status"], r["seq"]) for r in ledger.state(spark).collect()
    )
    n_raw_before = len(_raw_files(ledger))
    stats = ledger.compact_log(
        spark, [worker.checkpoint_dir], min_files=10, keep_recent=4
    )
    assert stats["folded"] >= 10 and stats["generations"] >= 1
    assert len(_gen_files(ledger)) == stats["generations"]
    assert len(_raw_files(ledger)) == n_raw_before - stats["folded"]

    # batch read: every row exactly once, same state
    after_state = sorted(
        (r["id"], r["status"], r["seq"]) for r in ledger.state(spark).collect()
    )
    assert after_state == before_state
    log = ledger.log(spark)
    assert log.count() == log.select("id", "seq").distinct().count()  # no dups

    # stream: same checkpoint keeps working; the fold triggers NO
    # re-execution and new jobs flow through
    worker.process_available()
    assert worker.executions == 30  # nothing re-executed
    client.perform_async("noop", 999)
    worker.process_available()
    assert worker.executions == 31


def test_fold_touches_only_committed_files(spark, ledger):
    """Files appended AFTER the stream's last commit are never folded —
    they must reach the worker as ordinary new input."""
    client = JobClient(ledger)
    for i in range(20):
        client.perform_async("noop", i)
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()

    for i in range(5):  # uncommitted tail
        client.perform_async("noop", 100 + i)
    uncommitted = set(_raw_files(ledger)) - (
        _stream_committed_files(worker.checkpoint_dir) or set()
    )
    assert len(uncommitted) >= 5

    ledger.compact_log(spark, [worker.checkpoint_dir], min_files=5, keep_recent=0)
    assert uncommitted <= set(_raw_files(ledger))  # tail untouched
    worker.process_available()
    assert worker.executions == 25  # the tail executed exactly once


def test_fold_respects_every_listed_checkpoint(spark, ledger, tmp_path):
    """With a second (lagging) consumer listed, only the INTERSECTION of
    committed files folds — a view stream that hasn't folded a file yet
    keeps it on disk."""
    from goose_spark.streaming.stateview import MaterializedState

    client = JobClient(ledger)
    for i in range(12):
        client.perform_async("noop", i)
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()

    # view stream commits the first 12 files
    view = MaterializedState(str(tmp_path / "view"))
    view_ck = str(tmp_path / "view-ck")
    view.attach_stream(ledger.log_stream(spark), view_ck).awaitTermination()

    # worker consumes MORE than the view has seen
    for i in range(12, 24):
        client.perform_async("noop", i)
    worker.process_available()

    view_committed = _stream_committed_files(view_ck)
    before = set(_raw_files(ledger))
    not_view_committed = {f for f in before if f not in view_committed}
    assert not_view_committed  # precondition: the view genuinely lags

    stats = ledger.compact_log(spark, [worker.checkpoint_dir, view_ck],
                               min_files=1, keep_recent=0)
    assert stats["folded"] > 0
    # nothing the view hasn't committed was folded away
    assert not_view_committed <= set(_raw_files(ledger))
    # the lagging view catches up losslessly and equals the ledger state
    view.attach_stream(ledger.log_stream(spark), view_ck).awaitTermination()
    vt = sorted((r["id"], r["status"], r["seq"]) for r in view.read(spark).collect())
    lt = sorted((r["id"], r["status"], r["seq"]) for r in ledger.state(spark).collect())
    assert vt == lt


def test_time_travel_survives_fold(spark, ledger):
    """Generations keep original seqs: state_as_of a pre-fold cursor
    returns the pre-fold answer after the fold."""
    client = JobClient(ledger)
    for i in range(10):
        client.perform_async("noop", i)
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    cursor = ledger.mark()
    want = sorted(
        (r["id"], r["status"]) for r in ledger.state_as_of(spark, seq=cursor).collect()
    )

    client.perform_async("noop", 99)
    worker.process_available()
    ledger.compact_log(spark, [worker.checkpoint_dir], min_files=1, keep_recent=0)
    assert len(_gen_files(ledger)) >= 1
    got = sorted(
        (r["id"], r["status"]) for r in ledger.state_as_of(spark, seq=cursor).collect()
    )
    assert got == want


def test_torn_fold_finishes_deletes_on_reopen(spark, ledger, monkeypatch):
    """Crash between generation publish and raw-file deletes: the next
    Ledger open rolls the manifest forward (deletes finish), leaving
    every (id, seq) exactly once — even though the staging dir is gone
    (the delete-pending recovery path)."""
    client = JobClient(ledger)
    for i in range(8):
        client.perform_async("noop", i)
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()

    real_apply = Publisher._apply

    def renames_only(self, manifest):
        # simulate the crash: renames land, deletes don't
        crippled = dict(manifest, removes=[])
        return real_apply(self, crippled)

    monkeypatch.setattr(Publisher, "_apply", renames_only)
    stats = ledger.compact_log(spark, [worker.checkpoint_dir],
                               min_files=1, keep_recent=0)
    monkeypatch.undo()
    assert stats["folded"] > 0
    # duplicates visible now (torn window): gen rows + undeleted raws
    dup = ledger.log(spark).count() - ledger.log(spark).select("id", "seq").distinct().count()
    assert dup > 0
    # ... but the state view already collapses them
    assert ledger.state(spark).count() == 8

    reopened = Ledger(ledger.root)  # roll-forward runs in __init__
    log = reopened.log(spark)
    assert log.count() == log.select("id", "seq").distinct().count()
    assert reopened.state(spark).count() == 8


def test_fold_noop_below_min_files(spark, ledger):
    client = JobClient(ledger)
    for i in range(3):
        client.perform_async("noop", i)
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()
    stats = ledger.compact_log(spark, [worker.checkpoint_dir],
                               min_files=1000, keep_recent=0)
    assert stats["folded"] == 0 and not _gen_files(ledger)


def test_committed_files_reader_handles_sparks_own_log_compaction(spark, ledger):
    """Drive enough micro-batches that Spark folds its source metadata
    into <id>.compact; _stream_committed_files must still see the early
    files (they only exist inside the .compact entry after that)."""
    client = JobClient(ledger)
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    for i in range(12):  # > fileSource.log.compactInterval (10)
        client.perform_async("noop", i)
        worker.process_available()
    sources = os.path.join(worker.checkpoint_dir, "sources", "0")
    assert any(f.endswith(".compact") for f in os.listdir(sources)), (
        "precondition: Spark compacted its source log"
    )
    committed = _stream_committed_files(worker.checkpoint_dir)
    raw = set(_raw_files(ledger))
    # every raw file was consumed (12 passes over 12 single appends +
    # outcome rows of earlier passes) except at most the final pass's
    # own outcome append
    missing = raw - committed
    assert len(missing) <= 1, sorted(missing)


def test_coerced_log_pdf_survives_both_createDataFrame_paths(spark):
    """Round-11 stress-soak regression: when query.stop() interrupts the
    Arrow upload inside createDataFrame, PySpark retries on the
    NON-Arrow row path — a nullable-Int32 extension array degrades to
    float NaN there and kills the stream (the round-10 NaN crash, back
    on the fallback path only). The coerced frame (object ints + None)
    must satisfy BOTH paths."""
    import pandas as pd
    import numpy as np

    from goose_spark.streaming.ledger import Ledger
    from goose_spark.streaming.worker import _coerce_log_pdf

    pdf = pd.DataFrame(
        {
            "id": ["a", "b"],
            "queue": ["default", "default"],
            "execute_fn": ["noop", "noop"],
            "args": ["[]", "[]"],
            "status": ["enqueued", "retrying"],
            # the soak's mixed retry/fresh shape: nullable ints arrive
            # as float64 with NaN after a toPandas round-trip (priority
            # and max_retries are NOT NULL in JOB_SCHEMA — only
            # retry_count/seq may be null)
            "priority": np.array([0.0, 1.0]),
            "enqueued_at": pd.to_datetime(["2026-01-01", "2026-01-01"]),
            "run_at": pd.to_datetime([None, "2026-01-01"]),
            "cron_name": [None, None],
            "batch_id": [None, None],
            "retry_count": np.array([np.nan, 1.0]),
            "max_retries": np.array([27.0, 27.0]),
            "retry_queue": [None, None],
            "error": [None, "boom"],
            "first_failed_at": pd.to_datetime([None, None]),
            "last_retried_at": pd.to_datetime([None, None]),
            "died_at": pd.to_datetime([None, None]),
            "worker_id": [None, None],
            "seq": np.array([1.0, 2.0]),
        }
    )
    coerced = _coerce_log_pdf(pdf)
    schema = Ledger._spark_log_schema()

    old = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled")
    try:
        for arrow in ("true", "false"):  # false = the fallback row path
            spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", arrow)
            rows = spark.createDataFrame(coerced, schema=schema).collect()
            by_id = {r["id"]: r for r in rows}
            assert by_id["a"]["retry_count"] is None
            assert by_id["b"]["retry_count"] == 1
            assert by_id["b"]["max_retries"] == 27
            assert by_id["b"]["seq"] == 2
    finally:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", old)


def test_live_fold_serializes_with_the_micro_batch_lock(spark, ledger):
    """The round-11 stress soak (750 jobs/s) killed the stream at
    minute 14: the ticker-thread fold deleted a committed raw file
    while _for_each_batch's driver-side batch reads (tombstone
    anti-join, batch callbacks) were executing against a listing taken
    before the fold. The fix: the ticker runs compact_log under the
    worker's micro-batch RLock. This test pins the serialization —
    while another thread holds the lock, a due fold must NOT run; it
    runs after release. Since the build/publish split, the contract is
    scoped to folds that PUBLISH (delete raw files): the lock-free
    build may run and a no-op fold may return while the lock is held —
    neither touches any file a batch read could have listed."""
    import threading
    import time

    client = JobClient(ledger)
    for i in range(40):
        client.perform_async("noop", i)
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()

    folds: list[dict] = []
    real = ledger.compact_log

    def counting_fold(*a, **k):
        # the ticker calls with production defaults (min_files=64);
        # force a real, publishing fold so the serialization is exercised
        k.setdefault("min_files", 5)
        k.setdefault("keep_recent", 4)
        stats = real(*a, **k)
        folds.append(stats)
        return stats

    worker.ledger.compact_log = counting_fold
    # neutralize tick(): it takes the same lock, so a blocked tick would
    # keep the ticker from ever REACHING the fold branch and the test
    # would pass even without the fix
    worker.tick = lambda: None
    # hold the micro-batch lock from this thread while the ticker's
    # fold window elapses several times over
    with worker._lock:
        handle = worker.start(
            trigger_sec=0.1,
            compact_log_every_sec=0.2,
            compact_checkpoints=[worker.checkpoint_dir],
        )
        time.sleep(1.5)
        # no PUBLISHING fold completed — the deletes blocked on the lock
        assert [f for f in folds if f["folded"]] == []
    deadline = time.time() + 10
    while not any(f["folded"] for f in folds) and time.time() < deadline:
        time.sleep(0.1)
    handle.stop()
    assert any(f["folded"] for f in folds), "fold never published after release"


def test_api_read_retries_once_on_stale_listing(spark, ledger):
    """An out-of-process console/API reader racing a live fold sees
    FAILED_READ_FILE exactly once (its listing predates the fold's
    deletes); the read-only surface retries with a fresh listing — the
    lakehouse OCC-read contract. Unrelated errors propagate."""
    from goose_spark.api import LedgerAPI

    client = JobClient(ledger)
    client.perform_async("noop", 1)
    api = LedgerAPI(spark, ledger)

    real_state, calls = api.state, []

    def flaky_state():
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError(
                "[FAILED_READ_FILE.FILE_NOT_EXIST] Encountered error "
                "while reading file ...parquet. File does not exist."
            )
        return real_state()

    api.state = flaky_state
    assert api.size(status="enqueued") == 1  # retried through the error
    assert len(calls) == 2

    def broken_state():
        raise RuntimeError("unrelated failure")

    api.state = broken_state
    with pytest.raises(RuntimeError, match="unrelated"):
        api.list_queues()


def test_api_read_retries_on_python_filenotfound(spark, ledger, monkeypatch):
    """The pyarrow-backed reads (workers registry, cron registry) hit
    the same transient race as Spark reads but spell it as Python
    FileNotFoundError (e.g. Handle.stop's deregister os.remove between
    a listing and pq.read_table) — the retry must absorb that spelling
    too (round-11 review finding)."""
    from goose_spark.api import LedgerAPI
    from goose_spark.streaming.heartbeat import ProcessRegistry

    api = LedgerAPI(spark, ledger)
    calls = []
    real = ProcessRegistry.workers

    def flaky(self):
        calls.append(1)
        if len(calls) == 1:
            raise FileNotFoundError(2, "No such file or directory", "w.parquet")
        return real(self)

    monkeypatch.setattr(ProcessRegistry, "workers", flaky)
    assert api.workers() == []  # retried through the deregister race
    assert len(calls) == 2


def test_is_stale_listing_matches_typed_error_class():
    """_is_stale_listing matches PySparkException by ERROR CLASS first
    (stable across Spark versions/locales), keeps the substring check
    only as the nested-java fallback, and rejects unrelated typed
    errors even when their message mentions files."""
    from pyspark.errors import AnalysisException

    from goose_spark.api import _is_stale_listing

    assert _is_stale_listing(FileNotFoundError("gone.parquet"))
    # typed: error class carries the contract, message needn't
    assert _is_stale_listing(
        AnalysisException("localized message", errorClass="FAILED_READ_FILE.FILE_NOT_EXIST")
    )
    # typed but unrelated class, message mentions a file — NOT matched
    assert not _is_stale_listing(
        AnalysisException("cannot resolve column in file foo.parquet",
                          errorClass="UNRESOLVED_COLUMN")
    )
    # untyped java-side nesting still caught by the fallback
    assert _is_stale_listing(
        RuntimeError("java.io.FileNotFoundException: part-0000.parquet")
    )
    assert not _is_stale_listing(RuntimeError("unrelated failure"))


def test_fold_build_runs_outside_the_publish_lock(spark, ledger):
    """The fold's expensive BUILD (Spark read + staged generation
    write) must complete BEFORE publish_lock is acquired; the critical
    section is only the manifest publish + deletes. This is what keeps
    trigger stalls at file-metadata cost instead of the whole fold
    duration (the r11 shape stalled every trigger ~6.3 s), and it also
    pins max_files as the per-fold slice bound."""
    client = JobClient(ledger)
    for i in range(30):
        client.perform_async("noop", i)
    worker = Worker(spark, ledger, rand_int=lambda n: 0)
    worker.process_available()

    events: list[str] = []

    class SpyLock:
        def __enter__(self):
            staged = glob.glob(os.path.join(ledger.root, ".staging-*", "*.parquet"))
            events.append("acquire-staged" if staged else "acquire-UNSTAGED")

        def __exit__(self, *a):
            events.append("release")
            return False

    real_apply = ledger._publisher._apply

    def spy_apply(*a, **k):
        events.append("apply")
        return real_apply(*a, **k)

    ledger._publisher._apply = spy_apply
    stats = ledger.compact_log(
        spark, [worker.checkpoint_dir], min_files=5, keep_recent=4,
        max_files=12, publish_lock=SpyLock(),
    )
    assert stats["folded"] == 12  # max_files bounds one fold's slice
    # build finished (staging populated) before the lock was taken, and
    # the publish happened inside the critical section
    assert events == ["acquire-staged", "apply", "release"]

    # the remaining backlog drains on the next fold invocation
    stats2 = ledger.compact_log(
        spark, [worker.checkpoint_dir], min_files=5, keep_recent=4,
        max_files=100, publish_lock=SpyLock(),
    )
    assert stats2["folded"] > 0
    after = sorted(
        (r["id"], r["status"]) for r in ledger.state(spark).collect()
    )
    assert len(after) == 30  # state intact across both sliced folds
