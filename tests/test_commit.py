"""Staged commits (``goose_spark.streaming.commit.Publisher``) as the job
ledger uses them: a publish interrupted after its commit point is
finished by the next ``Ledger`` open, never lost."""

from __future__ import annotations

import glob
import os
from datetime import datetime, timezone

import pytest

from goose_spark.api import LedgerAPI
from goose_spark.client import JobClient
from goose_spark.functions.registry import reset_flaky
from goose_spark.streaming.ledger import Ledger, next_seq
from goose_spark.streaming.worker import Worker


@pytest.fixture(autouse=True)
def _reset_flaky():
    reset_flaky()


@pytest.fixture()
def ledger(tmp_path):
    return Ledger(str(tmp_path / "ledger"))


def _failing_replace(monkeypatch, should_fail):
    """Patch ``os.replace`` so staged-part renames for which
    ``should_fail(dst, n)`` holds raise (``n`` counts staged renames);
    returns the list of staged rename targets seen."""
    real = os.replace
    seen: list[str] = []

    def replace(src, dst):
        if ".staging-" in str(src):
            seen.append(str(dst))
            if should_fail(str(dst), len(seen)):
                raise OSError("simulated crash mid-publish")
        return real(src, dst)

    monkeypatch.setattr(os, "replace", replace)
    return seen


def test_append_df_interrupted_rename_finishes_on_reopen(spark, ledger, monkeypatch):
    """A two-part append whose second rename fails keeps that part
    staged past the commit point; a fresh open publishes it."""
    schema = Ledger._spark_log_schema()
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    base = next_seq()
    rows = [
        tuple(
            {"id": f"a-{k}", "queue": "default", "execute_fn": "noop",
             "status": "success", "priority": 0, "enqueued_at": now,
             "max_retries": 27, "seq": base + k}.get(f.name)
            for f in schema.fields
        )
        for k in range(2)
    ]
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

    seen = _failing_replace(monkeypatch, lambda dst, n: n == 2)
    with pytest.raises(OSError):
        ledger.append_df(df)
    monkeypatch.undo()
    assert len(seen) == 2
    assert ledger.log(spark).count() == 1  # the torn prefix

    reopened = Ledger(ledger.root)
    assert sorted(r["id"] for r in reopened.log(spark).collect()) == ["a-0", "a-1"]
    assert not glob.glob(os.path.join(ledger.root, ".staging-*"))
    Ledger(ledger.root)  # idempotent
    assert reopened.log(spark).count() == 2


def test_purge_interrupted_before_tombstones_finishes_on_reopen(spark, ledger, monkeypatch):
    """Purge's deleted rows and tombstones are one commit: a crash
    after the log-row renames but before the tombstone rename is
    finished by the next open, so the purged jobs' undelivered
    enqueued rows never execute."""
    client = JobClient(ledger)
    doomed = [client.perform_async("noop", i, queue="purge-me") for i in range(3)]
    survivor = client.perform_async("noop", "other")

    _failing_replace(
        monkeypatch, lambda dst, n: os.path.dirname(dst) == ledger.tombstones_dir
    )
    with pytest.raises(OSError):
        LedgerAPI(spark, ledger).purge("purge-me")
    monkeypatch.undo()
    assert not glob.glob(os.path.join(ledger.tombstones_dir, "*.parquet"))

    reopened = Ledger(ledger.root)
    worker = Worker(spark, reopened, rand_int=lambda n: 0)
    worker.process_available()
    assert worker.executions == 1
    api = LedgerAPI(spark, reopened)
    assert api.find_by_id(survivor["id"])["status"] == "success"
    assert {api.find_by_id(j["id"])["status"] for j in doomed} == {"deleted"}
    assert glob.glob(os.path.join(ledger.tombstones_dir, "*.parquet"))
