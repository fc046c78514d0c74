"""Observability / management API — goose's ``src/goose/api/*`` surface
(Q1–Q11 in SURVEY §2.4) over the job ledger.

Reads are plain DataFrame queries on the current-state view; mutations
(prioritise / replay / delete) append transition rows — the ledger is
event-sourced, so "delete" is a tombstone status, and purge compaction
is a retention job (Delta ``VACUUM`` at scale).
"""

from __future__ import annotations

import json
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goose_spark.schema import (
    PRIORITY_FRONT,
    STATUS_DEAD,
    STATUS_ENQUEUED,
    STATUS_RETRYING,
    STATUS_SCHEDULED,
)
from goose_spark.streaming.ledger import Ledger

PAGE_SIZE = 10  # src/goose/defaults.clj:82


def _is_stale_listing(exc: Exception) -> bool:
    """Typed-first detection of the stale-file-listing race.

    The pyarrow-backed reads (workers registry, cron registry) surface
    a concurrent deregister/rewrite removing a just-listed file as
    Python ``FileNotFoundError``; Spark raises a typed
    ``PySparkException`` whose error class is ``FAILED_READ_FILE.*``
    (``FILE_NOT_EXIST`` being the compaction spelling). The substring
    check stays only as the fallback for wrapped/java-side forms
    (Py4JJavaError nesting a ``FileNotFoundException``) whose error
    class is not surfaced — matching types first keeps the check
    stable across Spark versions and message locales."""
    if isinstance(exc, FileNotFoundError):
        return True
    try:
        from pyspark.errors import PySparkException

        if isinstance(exc, PySparkException):
            ec = exc.getErrorClass() or ""
            if ec.startswith("FAILED_READ_FILE"):
                return True
            # fall through: a generic error class can still nest a
            # java FileNotFoundException cause in its message
    except ImportError:  # pragma: no cover — pyspark always present here
        pass
    msg = str(exc)
    return "FAILED_READ_FILE" in msg or "FileNotFoundException" in msg


def _retry_stale_listing(fn):
    """Retry a read-only API method ONCE when a live ``compact_log``
    fold deleted a raw log file between this read's file listing and
    its execution (Spark raises FAILED_READ_FILE / FileNotFound). The
    fold moved those rows into a ``gen-*`` generation, so a fresh
    listing sees every row — this is the same OCC-read contract a
    lakehouse client applies around OPTIMIZE. Mutations are NOT
    wrapped: their victim read happens before any append, so callers
    retry those whole (idempotent by the supersession protocol).
    In-worker reads never need this — the worker serializes its fold
    with its micro-batch lock."""
    import functools

    @functools.wraps(fn)
    def wrap(self, *args, **kwargs):
        try:
            return fn(self, *args, **kwargs)
        except Exception as exc:  # noqa: BLE001 — inspect and re-raise
            if not _is_stale_listing(exc):
                raise
            return fn(self, *args, **kwargs)

    return wrap


class LedgerAPI:
    """``state_view`` (optional): a ``streaming.stateview.
    MaterializedState`` maintained by the ledger's fold stream. When
    given, every read resolves from the view's manifest — one pruned
    file scan, no window-over-history shuffle (the O(1)-read form the
    console wants at 100 TB). Contract: the view has ONE writer (its
    maintenance stream); this API only APPENDS to the ledger, so a
    mutation (prioritise / replay / delete / purge) surfaces in
    view-backed reads after the next micro-batch fold. Mutations never
    SELECT their victims from the view (``_mutation_state``): they
    recompute from the ledger so repeated calls inside one fold
    interval stay idempotent — dashboards and consoles at the view,
    read-modify-write at the source of truth."""

    def __init__(self, spark: SparkSession, ledger: Ledger | str,
                 state_view=None):
        self.spark = spark
        self.ledger = ledger if isinstance(ledger, Ledger) else Ledger(ledger)
        self.state_view = state_view

    def state(self) -> DataFrame:
        if self.state_view is not None:
            # manifest re-resolved per call (stateview.read's reader
            # contract) — never hold this frame across maintenance commits
            return self.state_view.read(self.spark)
        return self.ledger.state(self.spark)

    def _mutation_state(self) -> DataFrame:
        """Victim selection for mutations (prioritise / replay / delete /
        purge / pop) always recomputes from the LEDGER, bypassing the
        view: the view lags by one fold interval, so picking victims
        from it would let two ``replay_dead`` calls inside one interval
        re-enqueue the same dead jobs twice, or ``prioritise_execution``
        supersede a stale seq while a newer enqueued copy stays live.
        Dashboards and consoles read the view; mutations read the
        source of truth."""
        return self.ledger.state(self.spark)

    def state_as_of(self, seq: int | None = None, ts=None) -> DataFrame:
        """Time-travel read: the queue as it looked at an earlier cursor
        (from ``Ledger.mark()``) or wall-clock instant — the audit answer
        to "what was enqueued/dead at the time of the incident". See
        Ledger.state_as_of for compaction-horizon semantics."""
        return self.ledger.state_as_of(self.spark, seq=seq, ts=ts)

    # ---- Q1/Q2: queue listing & sizes ------------------------------------

    @_retry_stale_listing
    def list_queues(self) -> list[str]:
        """SCAN goose/queue:* analog (api/enqueued_jobs.clj:7-10)."""
        rows = (
            self.state()
            .filter(F.col("status") == STATUS_ENQUEUED)
            .select("queue")
            .distinct()
            .orderBy("queue")
            .collect()
        )
        return [r["queue"] for r in rows]

    @_retry_stale_listing
    def size(self, queue: str | None = None, status: str = STATUS_ENQUEUED) -> int:
        df = self.state().filter(F.col("status") == status)
        if queue:
            df = df.filter(F.col("queue") == queue)
        return df.count()

    # ---- Q3/Q4/Q5: finds ---------------------------------------------------

    @_retry_stale_listing
    def find_by_id(self, job_id: str) -> dict | None:
        rows = self.state().filter(F.col("id") == job_id).limit(1).collect()
        return rows[0].asDict() if rows else None

    @_retry_stale_listing
    def find_by_pattern(self, predicate, limit: int = 10) -> list[dict]:
        """Arbitrary-predicate find with bounded result — the lazy
        scan-seq + take analog (commands.clj:205-210). ``predicate`` is a
        Column expression (pushed into the scan), not a client-side fn."""
        return [r.asDict() for r in self.state().filter(predicate).limit(limit).collect()]

    # ---- Q6: pagination ------------------------------------------------------

    @_retry_stale_listing
    def page(self, queue: str, page: int = 1, status: str = STATUS_ENQUEUED) -> list[dict]:
        df = (
            self.state()
            .filter((F.col("status") == status) & (F.col("queue") == queue))
            .orderBy(F.col("priority").desc(), "enqueued_at", "id")
            .limit(page * PAGE_SIZE)
            .offset((page - 1) * PAGE_SIZE)
        )
        return [r.asDict() for r in df.collect()]

    # ---- Q7: top-k oldest dead --------------------------------------------

    @_retry_stale_listing
    def peek_dead(self, n: int = 1) -> list[dict]:
        return self._oldest_dead(self.state(), n)

    @staticmethod
    def _oldest_dead(state: DataFrame, n: int) -> list[dict]:
        df = (
            state.filter(F.col("status") == STATUS_DEAD)
            .orderBy("died_at", "id")
            .limit(n)
        )
        return [r.asDict() for r in df.collect()]

    # ---- Q8: prioritise (requeue to front) ----------------------------------

    def prioritise_execution(self, job_ids: list[str]) -> int:
        """LREM+RPUSH / ZREM+RPUSH analog (commands.clj:145-164):
        re-emit as front-priority enqueued rows."""
        rows = (
            self._mutation_state()
            .filter(F.col("id").isin(job_ids) & F.col("status").isin(
                STATUS_ENQUEUED, STATUS_SCHEDULED, STATUS_RETRYING))
            .collect()
        )
        updates = []
        superseded = []
        for r in rows:
            d = r.asDict()
            old_seq = d.pop("seq", None)
            d.update(status=STATUS_ENQUEUED, priority=PRIORITY_FRONT, run_at=None)
            updates.append(d)
            if old_seq is not None:
                superseded.append((d["id"], int(old_seq)))
        self.ledger.append_rows(updates)
        # the LREM half of goose's LREM+RPUSH: suppress the original
        # rows so an unconsumed enqueued copy can't also execute. New
        # row first, supersession second — a crash between the two is
        # at-least-once, never lost.
        self.ledger.add_supersessions(superseded)
        return len(updates)

    # ---- Q9: replay dead ------------------------------------------------------

    def replay_dead(self, n: int = 1) -> int:
        """Move n oldest dead jobs to the front of their ready queue
        (api/dead_jobs.clj:25-47)."""
        updates = []
        for d in self._oldest_dead(self._mutation_state(), n):
            d.pop("seq", None)
            d.update(status=STATUS_ENQUEUED, priority=PRIORITY_FRONT,
                     died_at=None, run_at=None)
            updates.append(d)
        self.ledger.append_rows(updates)
        return len(updates)

    # ---- delete / purge / pop (api/{enqueued,scheduled,dead}_jobs.clj) -----

    def delete_jobs(self, job_ids: list[str]) -> int:
        """Delete specific jobs in any state (enqueued_jobs.clj:42-48,
        scheduled_jobs.clj:36-37, dead_jobs.clj:49-50): tombstone the
        state view AND record the ids in the deletion index so an
        undelivered enqueue row never executes. Returns jobs found."""
        rows = (
            self._mutation_state()
            .filter(F.col("id").isin(job_ids) & (F.col("status") != "deleted"))
            .collect()  # bounded by the explicit id list
        )
        updates = []
        for r in rows:
            d = r.asDict()
            d.pop("seq", None)
            d.update(status="deleted")
            updates.append(d)
        self.ledger.append_rows(updates)
        self.ledger.add_tombstones([d["id"] for d in updates])
        return len(updates)

    def purge(self, queue: str | None, status=STATUS_ENQUEUED) -> int:
        """Purge every job of a queue+state (enqueued_jobs.clj:50-54 DEL
        of the whole list; dead_jobs.clj:56-57 / scheduled_jobs.clj:39-40
        with status overrides; ``queue=None`` spans all queues, the shape
        of the dead/scheduled zset purges). Tombstones are built
        executor-side — a purge can touch an unbounded set."""
        from goose_spark.streaming.ledger import next_seq

        statuses = [status] if isinstance(status, str) else list(status)
        cond = F.col("status").isin(statuses)
        if queue is not None:
            cond &= F.col("queue") == queue
        doomed = (
            self._mutation_state()
            .filter(cond)
            .withColumn("status", F.lit("deleted"))
            .withColumn(
                "seq",
                F.lit(next_seq()) + F.pmod(F.xxhash64("id"), F.lit(1_000_000)),
            )
        ).persist()
        try:
            # log rows and tombstones are one commit: a crash can never
            # leave "deleted" rows whose undelivered jobs still execute
            n = self.ledger.append_deletes_df(doomed)
        finally:
            doomed.unpersist()
        return n

    def pop_dead(self, n: int = 1) -> list[dict]:
        """ZPOPMIN analog (dead_jobs.clj:11-14): return + delete the n
        oldest dead jobs."""
        jobs = self._oldest_dead(self._mutation_state(), n)
        self.delete_jobs([j["id"] for j in jobs])
        return jobs

    def purge_dead(self) -> int:
        """dead_jobs.clj:56-57 — delete the whole dead set."""
        return self.purge(None, STATUS_DEAD)

    def purge_scheduled(self) -> int:
        """scheduled_jobs.clj:39-40 — the scheduled zset holds both
        scheduled and retrying members."""
        return self.purge(None, (STATUS_SCHEDULED, STATUS_RETRYING))

    @_retry_stale_listing
    def get_by_range(self, queue: str, start: int, stop: int,
                     status: str = STATUS_ENQUEUED) -> list[dict]:
        """LRANGE/ZRANGE start..stop inclusive (enqueued_jobs.clj:56-60,
        dead_jobs.clj:59-61)."""
        df = (
            self.state()
            .filter((F.col("status") == status) & (F.col("queue") == queue))
            .orderBy("priority", F.col("enqueued_at"), "id")
            .limit(stop + 1)
            .offset(start)
        )
        return [r.asDict() for r in df.collect()]

    # ---- Q10: purge / retention -------------------------------------------------

    def delete_dead_older_than(self, cutoff: datetime) -> int:
        """ZREMRANGEBYSCORE analog (api/dead_jobs.clj:52-54) — tombstone
        rows; physical removal is compaction/VACUUM.

        Tombstones are built and appended executor-side (a retention
        sweep can touch an unbounded dead set — never collect it). The
        per-row seq only needs to exceed the job's previous seq, so a
        fresh time base + per-id hash offset keeps it monotonic without
        a global ordering pass."""
        from goose_spark.streaming.ledger import next_seq

        doomed = (
            self._mutation_state()
            .filter((F.col("status") == STATUS_DEAD) & (F.col("died_at") < F.lit(cutoff)))
            .withColumn("status", F.lit("deleted"))
            .withColumn(
                "seq",
                F.lit(next_seq()) + F.pmod(F.xxhash64("id"), F.lit(1_000_000)),
            )
        )
        _, n = self.ledger.append_df(doomed)
        return n

    # ---- Q11: cron registry queries ---------------------------------------------
    # (src/goose/brokers/redis/cron.clj:23-27,105-119: size / get / get-all /
    #  delete / purge)

    def cron_size(self) -> int:
        # no decorator: delegates to the already-retried cron_entries
        return len(self.cron_entries())

    @_retry_stale_listing
    def cron_entries(self) -> list[dict]:
        import os

        import pyarrow.parquet as pq

        path = self.ledger.cron_path
        if not os.path.exists(path):
            return []
        return pq.read_table(path).to_pylist()

    def cron_get(self, name: str) -> dict | None:
        # no decorator: delegates to the already-retried cron_entries
        return next((e for e in self.cron_entries() if e["cron_name"] == name), None)

    def cron_delete(self, name: str) -> bool:
        return self._cron_rewrite(lambda e: e["cron_name"] != name)

    def cron_purge(self) -> bool:
        return self._cron_rewrite(lambda e: False)

    def _cron_rewrite(self, keep) -> bool:
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        path = self.ledger.cron_path
        if not os.path.exists(path):
            return False
        schema = pq.read_schema(path)
        entries = pq.read_table(path).to_pylist()
        kept = [e for e in entries if keep(e)]
        changed = len(kept) != len(entries)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        pq.write_table(pa.Table.from_pylist(kept, schema=schema), tmp)
        os.replace(tmp, path)
        return changed

    # ---- B6: batch delete ----------------------------------------------------------
    # (src/goose/brokers/redis/api/batch.clj:11-38 — documented-expensive
    #  there; a single predicate tombstone here)

    def delete_batch(self, batch_id: str) -> int:
        rows = (
            self._mutation_state()
            .filter(
                (F.col("batch_id") == batch_id)
                & F.col("status").isin(STATUS_ENQUEUED, STATUS_SCHEDULED, STATUS_RETRYING)
            )
            .collect()
        )
        updates = []
        for r in rows:
            d = r.asDict()
            d.pop("seq", None)
            d.update(status="deleted")
            updates.append(d)
        self.ledger.append_rows(updates)
        return len(updates)

    # ---- Q12/Q13: dashboard ----------------------------------------------------

    @_retry_stale_listing
    def dashboard_counts(self) -> dict[str, int]:
        rows = self.state().groupBy("status").agg(F.count("*").alias("n")).collect()
        return {r["status"]: r["n"] for r in rows}

    # ---- W9: worker process registry (heartbeat.clj:10-20) -----------------

    @_retry_stale_listing
    def workers(self) -> list[dict]:
        """Registered worker processes with an alive flag (beat within
        the heartbeat expiry) — the console's process-set view."""
        from goose_spark.streaming.heartbeat import ProcessRegistry

        return ProcessRegistry(self.ledger.root).workers()

    @_retry_stale_listing
    def workers_count(self) -> int:
        from goose_spark.streaming.heartbeat import ProcessRegistry

        return ProcessRegistry(self.ledger.root).workers_count()

    # ---- Q14: latency ------------------------------------------------------------

    def latency_report(self) -> DataFrame:
        """now − coalesce(run_at, enqueued_at) per latency class
        (job.clj:45-61)."""
        s = self.state()
        cls = (
            F.when(F.col("run_at").isNotNull() & F.col("error").isNotNull(), "retry")
            .when(F.col("run_at").isNotNull(), "schedule")
            .when(F.col("cron_name").isNotNull(), "cron")
            .otherwise("execution")
        )
        lag = F.current_timestamp().cast("double") - F.coalesce("run_at", "enqueued_at").cast("double")
        return s.select(cls.alias("latency_class"), lag.alias("latency_sec"))
